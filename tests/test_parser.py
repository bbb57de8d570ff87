"""Parser operator vs the reference's golden extraction cases, on both
extraction backends."""

import pytest
from conftest import make_msgs

from go_fluentd_spark.config import DEFAULT_CONFIG, ParserConfig
from go_fluentd_spark.operators.parser import parse

IMPLS = ("native", "arrow")


def parse_both(df):
    """Rows of ``parse(df)`` on every extraction backend, which must agree;
    the golden asserts then check the one result."""
    got = {impl: parse(df, DEFAULT_CONFIG, impl=impl).collect() for impl in IMPLS}
    for impl in IMPLS[1:]:
        assert got[impl] == got[IMPLS[0]], (impl, got[impl], got[IMPLS[0]])
    return got[IMPLS[0]]


GEELY_LINE = (
    "2018-02-05 10:33:13.408 | geely:nlcc | INFO | http-bio-8081-exec-3 | "
    "com.tservice.cc.web.interceptor.MyLoggingOutInterceptor.handleMessage:57 - "
    "Outbound Message:{ID:1, Address:http://10.133.200.77:8082/gisnavi/tservice/"
    "gisnavi/poi/poicategory, Http-Method:GET, Content-Type:application/json, "
    "Headers:{Content-Type=[application/json], Accept=[application/json]}}"
)


def test_geely_golden(spark):
    # library/utils_test.go:56-73 — exact named-group values, trimmed
    df = make_msgs(spark, [{"source": GEELY_LINE, "tag": "geely.sit", "tag_base": "geely"}])
    row = parse_both(df)[0]
    assert row.time == "2018-02-05 10:33:13.408"
    assert row.project == "geely:nlcc"
    assert row.level == "INFO"
    assert row.thread == "http-bio-8081-exec-3"
    assert row["class"] == "com.tservice.cc.web.interceptor.MyLoggingOutInterceptor.handleMessage"
    assert row.line == "57"
    assert row.message.startswith("Outbound Message:{ID:1")


def test_spring_extract_and_trim(spark):
    # double-spaced level must trim to INFO (RegexNamedSubMatch TrimSpace,
    # library/utils.go:60-73)
    line = (
        "2018-03-06 16:56:22.514 | mscparea | INFO  | http-nio-8080-exec-1 | "
        "com.laisky.cloud.cp.core.service.impl.CPBusiness.reflectAdapterRequest | 84: test"
    )
    df = make_msgs(spark, [{"source": line}])
    row = parse_both(df)[0]
    assert (row.app, row.level, row.line, row.message) == ("mscparea", "INFO", "84", "test")
    assert row.ts == "2018-03-06T08:56:22.514000Z"  # +0800 -> UTC micros
    assert row.source is None  # is_remove_orig_log


def test_tab_padded_level_trims(spark):
    # bytes.TrimSpace strips every Unicode space, not just ' ': a tab- or
    # NBSP-padded group trims like a space-padded one (config.TRIM_CHARS)
    rows = [
        {"source": f"2018-03-06 16:56:22.514 | app | {pad}INFO{pad} | t | c.K | 84: m"}
        for pad in ("\t", " \t ", "\u00a0", "\u3000")
    ]
    assert [r.level for r in parse_both(make_msgs(spark, rows))] == ["INFO"] * 4


def test_no_match_discarded(spark):
    # parser_f.go:57-63: no regex match => row dropped
    df = make_msgs(spark, [{"source": "0.8336017742577866"}])
    assert parse_both(df) == []


def test_unparseable_time_discarded(spark):
    # parser_f.go:121-168: bad time => drop (month 13)
    line = "2018-13-06 16:56:22.514 | app | INFO | t | c.Klass | 84: m"
    df = make_msgs(spark, [{"source": line}])
    assert parse_both(df) == []


def test_comma_decimal_fix(spark):
    # parser_f.go:147: "," -> "." in the time string before parsing
    line = "2018-03-06 16:56:22,514 | app | INFO | t | c.Klass | 84: m"
    df = make_msgs(spark, [{"source": line}])
    row = parse_both(df)[0]
    assert row.ts == "2018-03-06T08:56:22.514000Z"


def test_json_explode_connector(spark):
    # parser_f.go:74-107: args JSON merged into row, key deleted on success
    line = (
        '2018-04-02 02:02:10.928 | sh-datamining | INFO | http-nio-8080-exec-80 | '
        'com.google.cloud.gateway.core.zuul.filters.post.LogFilter | 74 | {"k": "value"}: xxx'
    )
    df = make_msgs(spark, [{"source": line, "tag": "connector.sit", "tag_base": "connector"}])
    row = parse_both(df)[0]
    assert row.args__k == "value"
    assert row.args is None  # deleted after successful parse
    assert row.message == "xxx"


def test_ramjet_golden(spark):
    # settings.yml:181/258-262 example line: the 26-char micros timestamp must
    # extract (round-1 ADVICE: .{27} silently discarded every ramjet row)
    line = (
        "[2018-08-03T05:42:42.714151Z - DEBUG - /go/src/github.com/laisky/"
        "go-ramjet/tasks/logrotate/backup/main.go:129] IsFileReadyToUpload for 4.log.gz"
    )
    df = make_msgs(spark, [{"source": line, "tag": "ramjet.sit", "tag_base": "ramjet"}])
    rows = parse_both(df)
    assert len(rows) == 1, "ramjet line must parse, not fall to parse_no_match"
    row = rows[0]
    assert row.time == "2018-08-03T05:42:42.714151"
    assert row.level == "DEBUG"
    assert row["class"].endswith("logrotate/backup/main.go")
    assert row.line == "129"
    assert row.message == "IsFileReadyToUpload for 4.log.gz"
    assert row.ts == "2018-08-03T05:42:42.714151Z"  # already-UTC passthrough


def test_tokens_untouched(spark):
    # the per-row invariant: token arrays pass through parse unchanged
    line = "2018-03-06 16:56:22.514 | a | I | t | c.K | 1: m"
    df = make_msgs(spark, [{"source": line, "tokens": [9, 8, 7], "n_tok": 3}])
    row = parse_both(df)[0]
    assert row.tokens == [9, 8, 7] and row.n_tok == 3


def test_unnamed_capture_group_rejected():
    # fields are found by group name, and Arrow's extract_regex refuses an
    # unnamed group only inside a running task: the config refuses it first
    assert ParserConfig(("x",), r"^(?P<time>\S+) (?P<message>.*)$").groups == {"time": 1, "message": 2}
    with pytest.raises(ValueError, match="named"):
        ParserConfig(("x",), r"^(?P<time>\S+) (\w+) (?P<message>.*)$")
