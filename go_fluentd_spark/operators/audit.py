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

from pyspark.sql import Column, DataFrame, functions as F

from go_fluentd_spark.config import ParserConfig, PipelineConfig
from go_fluentd_spark.operators.acceptor import spring_retag
from go_fluentd_spark.operators.parser import _family_case, _group_col, java_pattern


def discard_reasons(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Input: the concat-stage output (pre-acceptor).  Output:
    (doc_id, tag, reason) for every row the pipeline drops."""
    parsers = cfg.parsers

    spark_ignored = (F.col("tag_base") == "spark") & F.col("source").rlike(
        cfg.spark_ignore_regex
    )
    # apply the retag (the acceptor's only mutation) to evaluate the
    # whitelist and parser against the post-retag tag
    df = spring_retag(df.withColumn("_spark_ignored", spark_ignored), cfg)

    unknown = (F.col("tag") == "") | ~F.col("tag").isin(cfg.accept_tags)
    matched = F.coalesce(
        _family_case(parsers, lambda p: F.col("source").rlike(java_pattern(p.pattern))),
        F.lit(False),
    )

    def must_col(p: ParserConfig) -> Column:
        if not p.must_include:
            return F.lit(True)
        return _group_col(p, p.must_include).isNotNull()

    must_ok = F.coalesce(_family_case(parsers, must_col), F.lit(True))

    def ts_ok(p: ParserConfig) -> Column:
        if p.time_group is None:
            return F.lit(True)
        parsed = F.try_to_timestamp(
            F.concat(
                F.regexp_replace(_group_col(p, "time"), ",", "."),
                F.lit(" " + p.append_time_zone),
            ),
            F.lit(p.spark_time_format),
        )
        return parsed.isNotNull()

    time_ok = F.coalesce(_family_case(parsers, ts_ok), F.lit(True))

    reason = (
        F.when(F.col("_spark_ignored"), "spark_ignore")
        .when(unknown, "unknown_tag")
        .when(~matched, "parse_no_match")
        .when(~must_ok, "missing_must_include")
        .when(~time_ok, "bad_time")
    )
    return (
        df.withColumn("reason", reason)
        .filter(F.col("reason").isNotNull())
        .select("doc_id", "tag", "reason")
    )
