"""The registry's lookup processors run ``lookup.enrich``: a small lookup
is folded into the plan, so the processor's plan has no join and no
shuffle, and its output matches a ``broadcast_enrich`` of the same
frames — same columns, schema and rows. A lookup above
``FOLD_MAX_ROWS`` stays one broadcast join."""

from pyspark.sql import functions as F

from beats_spark.lookup import FOLD_MAX_ROWS
from beats_spark.processors import compile_processors
from beats_spark.processors.enrich import broadcast_enrich, build_cache_store


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_same(got, want):
    assert got.columns == want.columns
    assert got.schema == want.schema
    assert sorted(got.collect(), key=lambda r: r.id) == \
        sorted(want.collect(), key=lambda r: r.id)


def _assert_folded_parity(got, want):
    plan = _plan(got)
    assert "BroadcastHashJoin" not in plan and "Exchange" not in plan
    _assert_same(got, want)


def test_translate_sid_replace_on_another_key_folds(spark):
    events = spark.createDataFrame(
        [(1, "S-1-5-18", "stale"), (2, "S-1-5-32-544", None),
         (3, "S-1-0-0", "kept?"), (4, None, "orphan")],
        "id long, sid string, account_name string")
    lookup = spark.createDataFrame(
        [("S-1-5-18", "SYSTEM", "NT AUTHORITY"),
         ("S-1-5-32-544", "Administrators", "BUILTIN"),
         (None, "nobody", "none")],
        "object_sid string, name string, domain string")
    fields = {"name": "account_name", "domain": "account_domain"}
    got = compile_processors([{"translate_sid": {
        "lookup": lookup, "field": "sid", "lookup_key": "object_sid",
        "fields": fields}}])(events)
    want = broadcast_enrich(events, lookup, on="sid",
                            lookup_key="object_sid", fields=fields,
                            action="replace")
    _assert_folded_parity(got, want)
    # replace: a miss overwrites the old value with null
    assert {r.id: r.account_name for r in got.collect()} == {
        1: "SYSTEM", 2: "Administrators", 3: None, 4: None}


def test_cache_get_with_overwrite_keys_folds(spark):
    puts = spark.createDataFrame(
        [(10, "login", 1), (10, "logout", 2), (20, "view", 1),
         (30, "buy", 5)],
        "user long, action string, ts long")
    store = build_cache_store(puts, "user", ["action"], ts_field="ts")
    events = spark.createDataFrame(
        [(1, 10, "old"), (2, 20, None), (3, 40, "old"), (4, None, "old")],
        "id long, user long, cached_action string")
    get = {"key_field": "user", "target_field": "cached"}
    got = compile_processors([{"cache": {
        "store": store, "get": {**get, "overwrite_keys": True}}}])(events)
    want = broadcast_enrich(events, store, on="user", lookup_key="key",
                            fields={"action": "cached_action"},
                            action="replace")
    _assert_folded_parity(got, want)
    assert {r.id: r.cached_action for r in got.collect()} == {
        1: "logout", 2: "view", 3: None, 4: None}


def test_add_process_metadata_tags_a_missing_pid_and_folds(spark):
    events = spark.createDataFrame(
        [(1, 100, ["seen"]), (2, 200, None), (3, 999, []), (4, None, None)],
        "id long, pid long, log_flags array<string>")
    lookup = spark.createDataFrame(
        [(100, "nginx", 1.5, True), (200, "sshd", None, False)],
        "pid long, process_name string, cpu double, privileged boolean")
    cfg = {"lookup": lookup, "tag_on_failure": "process_meta_miss"}
    got = compile_processors([{"add_process_metadata": cfg}])(events)
    want = broadcast_enrich(
        events, lookup, on="pid", lookup_key="pid",
        fields={c: c for c in ("process_name", "cpu", "privileged")},
        action="replace", tag_on_failure="process_meta_miss")
    _assert_folded_parity(got, want)
    flags = {r.id: r.log_flags for r in got.collect()}
    assert flags[1] == ["seen"] and flags[2] == []
    assert flags[3] == ["process_meta_miss"]
    assert flags[4] == ["process_meta_miss"]


def test_dns_over_two_source_fields_folds(spark):
    events = spark.createDataFrame(
        [(1, "a.example", "b.example", None),
         (2, "b.example", "gone.example", "10.9.9.9"),
         (3, None, "a.example", None)],
        "id long, src_host string, dst_host string, dst_ip string")
    lookup = spark.createDataFrame(
        [("a.example", "10.0.0.1"), ("b.example", "10.0.0.2")],
        "host string, ip string")
    fields = {"src_host": "src_ip", "dst_host": "dst_ip"}
    got = compile_processors([{"dns": {
        "lookup": lookup, "fields": fields,
        "tag_on_failure": "dns_miss"}}])(events)
    want = events
    for src, dst in fields.items():
        want = broadcast_enrich(want, lookup, on=src, lookup_key="host",
                                fields={"ip": dst}, action="append",
                                tag_on_failure="dns_miss")
    _assert_folded_parity(got, want)
    rows = {r.id: (r.src_ip, r.dst_ip, r.log_flags) for r in got.collect()}
    # append keeps the existing dst_ip of row 2
    assert rows == {1: ("10.0.0.1", "10.0.0.2", []),
                    2: ("10.0.0.2", "10.9.9.9", ["dns_miss"]),
                    3: (None, "10.0.0.1", ["dns_miss"])}


def test_lookup_above_fold_limit_stays_one_broadcast_join(spark):
    events = spark.createDataFrame(
        [(1, "c-1", "old"), (2, "c-x", "old"), (3, None, None)],
        "id long, container_id string, image string")
    lookup = spark.range(FOLD_MAX_ROWS + 1).select(
        F.concat(F.lit("c-"), F.col("id").cast("string"))
        .alias("container_id"),
        F.concat(F.lit("image-"), F.col("id").cast("string")).alias("image"))
    got = compile_processors([{"add_docker_metadata": {
        "lookup": lookup}}])(events)
    assert _plan(got).count("BroadcastHashJoin") == 1
    want = broadcast_enrich(events, lookup, on="container_id",
                            lookup_key="container_id",
                            fields={"image": "image"}, action="replace")
    _assert_same(got, want)
    assert {r.id: r.image for r in got.collect()} == {
        1: "image-1", 2: None, 3: None}
