"""SQL-literal quoting: every config string, and hostile ones, parse back
through ``F.expr`` to the Python original.  Spark SQL unescapes backslash
sequences in string literals and substitutes ``${var}`` before parsing, so a
regex quoted wrongly would silently change what it matches."""

from pyspark.sql import functions as F

from go_fluentd_spark import config as C
from go_fluentd_spark.functions.sqltext import ident, sql_in, sql_str, with_sql

HOSTILE = [
    "'",
    "\\",
    "\\'",
    "'\\",
    "\t",
    "\n",
    "\r\n",
    "$",
    "${x}",
    "${spark.app.name}",
    "${system:java.version}",
    "`",
    "``a`",
    "%",
    "\\%",
    "_",
    "\\_",
    "\\u0041",
    "\\n",
    '"',
    "--",
    "/* c */",
    "\x00\x01",
    "é漢字",
    "\U0001f600",
    "",
]


def _config_strings() -> list[str]:
    cfg = C.DEFAULT_CONFIG
    out = [cfg.spark_ignore_regex, C.SPRING_HEAD_REGEX, C.TRIM_CHARS, cfg.run_key]
    out += [r["regexp"] for r in cfg.spring_retag_rules] + [r["new_tag_base"] for r in cfg.spring_retag_rules]
    out += [c["head_regexp"] for c in C.CONCAT_CONFIGS.values()] + list(C.CONCAT_CONFIGS)
    for p in cfg.parsers:
        out += [p.pattern, p.spark_time_format, p.append_time_zone, p.new_time_key, *p.tag_bases]
    out += cfg.accept_tags + cfg.envs
    out += [s.name for s in cfg.sinks] + [t for s in cfg.sinks for t in s.tags]
    out += [v for f in cfg.add_fields.values() for v in f.values()] + list(cfg.add_fields)
    out += [i for _, i in C.es_index_rows(cfg.es_index_map, cfg.envs)]
    out += [r"\.([a-z]+)$", r"\.[a-z]+$", r"ms_\w+", r"\d{4}", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"]
    return out


def test_sql_str_round_trips_config_and_hostile_strings(spark):
    strings = _config_strings() + HOSTILE
    row = spark.range(1).select(
        *[F.expr(sql_str(s)).alias(f"c{i}") for i, s in enumerate(strings)]
    ).first()
    for i, s in enumerate(strings):
        assert row[i] == s, (s, row[i])


def test_quoted_regexes_match_like_the_python_original(spark):
    """A regex through sql_str matches in Spark exactly where it matches
    as a Column literal (the pre-SQL-text form)."""
    lines = ["2018-03-06 16:56:22,123 [main] x", "ms_bot7 | - ms:cp", "a.b.prod", "a\\.b"]
    pats = [C.SPARK_IGNORE_REGEX, r"ms_\w+", r"- ms:cp", r"\.[a-z]+$", r"\\\."]
    df = spark.createDataFrame([(s,) for s in lines], "s string")
    got = df.select(
        *[F.expr(f"s RLIKE {sql_str(p)}").alias(f"t{i}") for i, p in enumerate(pats)],
        *[F.col("s").rlike(p).alias(f"w{i}") for i, p in enumerate(pats)],
    ).collect()
    for r in got:
        assert [r[f"t{i}"] for i in range(len(pats))] == [r[f"w{i}"] for i in range(len(pats))]


def test_ident_in_list_and_with_sql(spark):
    odd = "we`ird name"
    df = spark.createDataFrame([("a", 1)], f"{ident(odd)} string, n int")
    out = with_sql(df, {odd: f"upper({ident(odd)})", "k": sql_in(ident(odd), ["a", "'"])})
    # every expression reads the input frame, as in withColumns
    assert out.columns == [odd, "n", "k"]
    assert out.first() == ("A", 1, True)


def test_sql_in_empty_list_is_false_like_isin(spark):
    """An empty IN list (an accept list with no tags) filters every row out,
    NULL included, as ``isin([])`` does, instead of failing to parse."""
    df = spark.createDataFrame([("a",), (None,)], "t string")
    got = df.select(
        F.expr(sql_in("t", [])).alias("e"),
        F.expr(f"(NOT {sql_in('t', [])})").alias("n"),
        F.col("t").isin([]).alias("w"),
        (~F.col("t").isin([])).alias("wn"),
    ).collect()
    assert [(r.e, r.n) for r in got] == [(r.w, r.wn) for r in got] == [(False, True)] * 2
