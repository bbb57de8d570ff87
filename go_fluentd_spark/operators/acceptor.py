"""Acceptor-stage filters (reference ``internal/acceptorfilters/``).

The reference runs a serial per-row filter chain (spark -> spring -> default,
``pipeline.go:125-228``); here the whole chain is a handful of Catalyst
expressions on one DataFrame — filters first so they push toward the scan,
retag as a single CASE written once per plan build, all as SQL text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from go_fluentd_spark.config import TAG_ENV_REGEX, PipelineConfig
from go_fluentd_spark.functions.sqltext import sql_in, sql_str


def spark_filter(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """SparkFilter (``spark_f.go:44-68``): rows tagged ``spark.{env}`` whose
    log matches ``ignore_regex`` are discarded."""
    return df.filter(
        f"(NOT ((tag_base = 'spark') AND source RLIKE {sql_str(cfg.spark_ignore_regex)}))"
    )


def spring_retag(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """SpringFilter (``spring_f.go:79-107``): for ``spring.{env}`` rows the
    first matching rule rewrites the tag ({env} substituted per-row).

    The reference re-enters rewritten rows into the chain
    (``spring_f.go:101``); the shipped rules are confluent (a rewritten tag
    never matches ``spring.{env}`` again) so a single CASE is exact.
    """
    rules = " ".join(
        f"WHEN source RLIKE {sql_str(r['regexp'])} THEN concat({sql_str(r['new_tag_base'] + '.')}, env)"
        for r in cfg.spring_retag_rules
    )
    retagged = f"CASE WHEN (tag_base = 'spring') THEN CASE {rules} ELSE tag END ELSE tag END"
    return df.withColumn("tag", F.expr(retagged)).withColumn(
        "tag_base", F.expr(f"regexp_replace(tag, {sql_str(TAG_ENV_REGEX)}, '')")
    )


def accept_whitelist(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """DefaultFilter (``default_f.go:64-79``): drop empty tags and tags not in
    the accept list.  ``IN`` compiles to an in-set predicate (codegen'd);
    for very large whitelists swap to a broadcast left-semi join.
    """
    return df.filter(f"((NOT (tag = '')) AND {sql_in('tag', cfg.accept_tags)})")


def acceptor_chain(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The full serial chain: spark -> spring -> default (controllor.go:183-245).

    Backpressure (``pipeline.go:158-180``) lives in the STREAMING variant,
    not here: the throttle maps to the source-side rate cap
    (``streaming/stream_pipeline.py::read_sequence_stream``) and the lossy
    drop-on-overload to ``streaming/stream_pipeline.py::shed_overload``; a
    batch plan itself never sheds (SURVEY.md §2.10).
    """
    return accept_whitelist(spring_retag(spark_filter(df, cfg), cfg), cfg)
