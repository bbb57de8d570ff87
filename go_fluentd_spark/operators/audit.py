"""Discard audit: one row per dropped message with the reason — the
observability twin of the pipeline's silent filters (FIXTURES.md F5
``expected_discards``; discard sites cited per reason below).

Reasons, in pipeline order (first matching wins):

- ``spark_ignore``          SparkFilter ignore_regex (``spark_f.go:44-68``)
- ``unknown_tag``           accept_tags whitelist (``default_f.go:64-79``)
- ``parse_no_match``        parser regex miss (``parser_f.go:57-63``)
- ``missing_must_include``  must_include gate (``parser_f.go:112-118``)
- ``bad_time``              unparseable time (``parser_f.go:121-168``)

At scale this runs as a side output of the same scan (one extra projection),
feeding a quality/monitoring table — the reference only counts drops
(per-tag counters); per-row reasons are an upgrade batch makes free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from go_fluentd_spark.config import ParserConfig, PipelineConfig
from go_fluentd_spark.functions.sqltext import sql_in, sql_str
from go_fluentd_spark.operators.acceptor import spring_retag
from go_fluentd_spark.operators.parser import _family_case, _group_col, _parsed_time, java_pattern


def discard_reasons(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Input: the concat-stage output (pre-acceptor).  Output:
    (doc_id, tag, reason) for every row the pipeline drops."""
    parsers = cfg.parsers

    spark_ignored = f"((tag_base = 'spark') AND source RLIKE {sql_str(cfg.spark_ignore_regex)})"
    # apply the retag (the acceptor's only mutation) to evaluate the
    # whitelist and parser against the post-retag tag
    df = spring_retag(df.withColumn("_spark_ignored", F.expr(spark_ignored)), cfg)

    unknown = f"((tag = '') OR (NOT {sql_in('tag', cfg.accept_tags)}))"
    matched = _family_case(parsers, lambda p: f"source RLIKE {sql_str(java_pattern(p.pattern))}")

    def must_col(p: ParserConfig) -> str:
        if not p.must_include:
            return "true"
        return f"({_group_col(p, p.must_include)} IS NOT NULL)"

    def ts_ok(p: ParserConfig) -> str:
        if p.time_group is None:
            return "true"
        return f"({_parsed_time(p, _group_col(p, 'time'))} IS NOT NULL)"

    reason = (
        "CASE WHEN _spark_ignored THEN 'spark_ignore' "
        f"WHEN {unknown} THEN 'unknown_tag' "
        f"WHEN (NOT coalesce({matched}, false)) THEN 'parse_no_match' "
        f"WHEN (NOT coalesce({_family_case(parsers, must_col)}, true)) THEN 'missing_must_include' "
        f"WHEN (NOT coalesce({_family_case(parsers, ts_ok)}, true)) THEN 'bad_time' END"
    )
    return (
        df.withColumn("reason", F.expr(reason))
        .filter("(reason IS NOT NULL)")
        .select("doc_id", "tag", "reason")
    )
