"""Tests for the reader-stack functions: multiline (mirrors
``libbeat/reader/multiline/multiline_test.go`` cases), grok, syslog,
readers."""

import pytest

from pyspark.sql import functions as F

from beats_spark.functions import (
    segment_lines, multiline_join_col, multiline_over_rows,
    Grok, grok_extract, parse_syslog,
    include_lines, exclude_lines, limit_message, split_lines,
)


class TestSegmentLines:
    def test_java_stacktrace_after_negate(self):
        # classic: continuation lines start with whitespace
        lines = ["Exception in thread main", "  at Foo.bar()",
                 "  at Baz.qux()", "next event", "another"]
        got = segment_lines(lines, pattern=r"^\s", negate=False, match="after")
        assert got == ["Exception in thread main\n  at Foo.bar()\n  at Baz.qux()",
                       "next event", "another"]

    def test_negate_after_timestamp_start(self):
        # events start with a timestamp; negate joins non-matching lines
        lines = ["2024-01-01 start", "cont a", "cont b", "2024-01-02 next"]
        got = segment_lines(lines, pattern=r"^\d{4}-", negate=True, match="after")
        assert got == ["2024-01-01 start\ncont a\ncont b", "2024-01-02 next"]

    def test_before_mode(self):
        # lines ending with backslash join with the following line
        lines = ["line1 \\", "line1 cont \\", "line1 end", "line2"]
        got = segment_lines(lines, pattern=r"\\$", negate=False, match="before")
        assert got == ["line1 \\\nline1 cont \\\nline1 end", "line2"]

    def test_flush_pattern(self):
        lines = ["START a", "mid", "END", "START b", "END"]
        got = segment_lines(lines, pattern=r"^START", negate=True,
                            match="after", flush_pattern=r"^END")
        assert got == ["START a\nmid\nEND", "START b\nEND"]

    def test_max_lines_truncates(self):
        lines = ["h", "c1", "c2", "c3", "c4"]
        got = segment_lines(lines, pattern=r"^c", match="after", max_lines=3)
        assert got == ["h\nc1\nc2"]

    def test_count_mode(self):
        got = segment_lines(["a", "b", "c", "d", "e"], mode="count",
                            count_lines=2)
        assert got == ["a\nb", "c\nd", "e"]

    def test_while_pattern(self):
        got = segment_lines(["x1", "x2", "other", "x3"], mode="while_pattern",
                            pattern=r"^x")
        assert got == ["x1\nx2", "other", "x3"]


def test_multiline_join_col(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 a\ncont\n2024-01-02 b")], "id int, text string")
    out = df.withColumn("msgs", multiline_join_col(
        F.col("text"), pattern=r"^\d{4}-", negate=True, match="after"))
    msgs = out.collect()[0].msgs
    assert msgs == ["2024-01-01 a\ncont", "2024-01-02 b"]


def test_multiline_over_rows(spark):
    rows = [
        ("f1", 0, "2024-01-01 a"), ("f1", 1, "cont1"), ("f1", 2, "cont2"),
        ("f1", 3, "2024-01-02 b"),
        ("f2", 0, "2024-01-03 c"), ("f2", 1, "contx"),
    ]
    df = spark.createDataFrame(rows, "path string, line_no int, line string")
    out = multiline_over_rows(
        df, "line", ["path"], "line_no",
        pattern=r"^\d{4}-", negate=True, match="after")
    got = {(r.path, r.line_no): r.message for r in out.collect()}
    assert got[("f1", 0)] == "2024-01-01 a\ncont1\ncont2"
    assert got[("f1", 3)] == "2024-01-02 b"
    assert got[("f2", 0)] == "2024-01-03 c\ncontx"


class TestGrok:
    def test_compile_and_group_indexes(self):
        g = Grok("%{IP:client} %{WORD:method} %{NUMBER:bytes:int}")
        assert [f for f, _ in g.fields] == ["client", "method", "bytes"]
        assert g.group_index == {"client": 1, "method": 2, "bytes": 3}

    def test_unknown_pattern(self):
        with pytest.raises(ValueError):
            Grok("%{NOPE:x}")

    def test_extract(self, spark):
        df = spark.createDataFrame(
            [(1, '10.0.0.1 GET /idx 200 512'), (2, "garbage")],
            "id int, message string")
        out = grok_extract(
            df, "message",
            "%{IP:client} %{WORD:method} %{URIPATH:path} %{NUMBER:status:int} %{NUMBER:bytes:int}")
        got = {r.id: r.asDict() for r in out.collect()}
        assert got[1]["client"] == "10.0.0.1"
        assert got[1]["status"] == 200 and got[1]["bytes"] == 512
        assert got[2]["client"] is None
        assert "grok_parsing_error" in got[2]["log_flags"]

    def test_extract_is_jvm_side(self, spark):
        df = spark.createDataFrame([(1, "a")], "id int, message string")
        out = grok_extract(df, "message", "%{WORD:w}")
        assert "Python" not in out._jdf.queryExecution().executedPlan().toString()

    def test_iis_style_pattern(self, spark):
        # module-style composite (iis/access/ingest/pipeline.yml:10-43)
        line = "2024-03-15 10:11:12 192.168.1.10 GET /default.htm 80 - 10.0.0.2 Mozilla/5.0 200 0 0 42"
        df = spark.createDataFrame([(1, line)], "id int, message string")
        pat = ("%{TIMESTAMP_ISO8601:ts} %{IPORHOST:site} %{WORD:method} "
               "%{URIPATH:page} %{NUMBER:port:int} %{NOTSPACE:user} "
               "%{IPORHOST:clientip} %{NOTSPACE:agent} %{NUMBER:response:int} "
               "%{NUMBER:sub:int} %{NUMBER:win32:int} %{NUMBER:ms:int}")
        got = grok_extract(df, "message", pat).collect()[0]
        assert got.ts == "2024-03-15 10:11:12"
        assert got.clientip == "10.0.0.2" and got.response == 200 and got.ms == 42


class TestSyslog:
    def test_rfc3164(self, spark):
        df = spark.createDataFrame(
            [(1, "<34>Oct 11 22:14:15 mymachine su[1234]: 'su root' failed")],
            "id int, message string")
        got = parse_syslog(df).collect()[0]
        assert got.log_syslog_severity_code == 2      # 34 % 8
        assert got.log_syslog_facility_code == 4      # 34 / 8
        assert got.log_syslog_severity_name == "Critical"
        assert got.syslog_hostname == "mymachine"
        assert got.syslog_program == "su" and got.syslog_pid == 1234
        assert got.syslog_message == "'su root' failed"
        assert str(got.syslog_ts) == "2000-10-11 22:14:15"

    def test_rfc5424(self, spark):
        df = spark.createDataFrame(
            [(1, '<165>1 2003-10-11T22:14:15.003Z host.example app 1024 ID47 '
                 '[exampleSDID@32473 iut="3"] BOMAn application event')],
            "id int, message string")
        got = parse_syslog(df).collect()[0]
        assert got.syslog_version == 1
        assert got.log_syslog_facility_code == 20
        assert got.syslog_hostname == "host.example"
        assert got.syslog_program == "app" and got.syslog_pid == 1024
        assert got.syslog_msgid == "ID47"
        assert got.syslog_message == "BOMAn application event"
        assert str(got.syslog_ts) == "2003-10-11 22:14:15.003000"

    def test_unparseable(self, spark):
        df = spark.createDataFrame([(1, "not syslog at all :::")],
                                   "id int, message string")
        got = parse_syslog(df).collect()[0]
        assert got.syslog_hostname is None


class TestReaders:
    def test_include_exclude(self, spark):
        df = spark.createDataFrame(
            [(1, "ERR boom"), (2, "INFO ok"), (3, "DEBUG noise")],
            "id int, line string")
        assert [r.id for r in include_lines(df, "line", ["^ERR", "^INFO"]).collect()] == [1, 2]
        assert [r.id for r in exclude_lines(df, "line", ["^DEBUG"]).collect()] == [1, 2]

    def test_limit_message(self, spark):
        df = spark.createDataFrame([(1, "x" * 100), (2, "short")],
                                   "id int, message string")
        got = {r.id: r for r in limit_message(df, "message", 10).collect()}
        assert got[1].message == "x" * 10
        assert "truncated" in got[1].log_flags
        assert got[2].message == "short" and list(got[2].log_flags) == []

    def test_split_lines(self, spark):
        df = spark.createDataFrame([(1, "a\n\nb")], "id int, text string")
        got = split_lines(df, "text").select("line_no", "line").collect()
        assert [(r.line_no, r.line) for r in got] == [(0, "a"), (2, "b")]


# ------------------------------------------------------ accent folding

def test_fold_accents_values_and_passthrough(spark):
    from pyspark.sql import functions as F
    from beats_analytics.unicode import (
        fold_accents, _ACCENT_FROM, _ACCENT_TO)
    assert len(_ACCENT_FROM) == len(_ACCENT_TO)  # derived, aligned
    rows = [("héllo wörld café",), ("ÉLÄN straße Œuvre",),
            ("русский 中文 naïve",), ("",), (None,)]
    df = spark.createDataFrame(rows, "t string")
    got = [r[0] for r in
           df.select(fold_accents(F.col("t"))).collect()]
    assert got == ["hello world cafe", "ELAN strasse OEuvre",
                   "русский 中文 naive", "", None]
    # codegen only: no Python node
    plan = (df.select(fold_accents(F.col("t")))
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan
