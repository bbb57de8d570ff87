"""Acceptor-stage filters (reference ``internal/acceptorfilters/``).

The reference runs a serial per-row filter chain (spark -> spring -> default,
``pipeline.go:125-228``); here the whole chain is a handful of Catalyst
expressions on one DataFrame — filters first so they push toward the scan,
retag as a single when-chain compiled once at plan build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from go_fluentd_spark.config import PipelineConfig


def spark_filter(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """SparkFilter (``spark_f.go:44-68``): rows tagged ``spark.{env}`` whose
    log matches ``ignore_regex`` are discarded."""
    is_spark = F.col("tag_base") == "spark"
    return df.filter(~(is_spark & F.col("source").rlike(cfg.spark_ignore_regex)))


def spring_retag(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """SpringFilter (``spring_f.go:79-107``): for ``spring.{env}`` rows the
    first matching rule rewrites the tag ({env} substituted per-row).

    The reference re-enters rewritten rows into the chain
    (``spring_f.go:101``); the shipped rules are confluent (a rewritten tag
    never matches ``spring.{env}`` again) so a single when-chain is exact.
    """
    is_spring = F.col("tag_base") == "spring"
    chain = None
    for rule in cfg.spring_retag_rules:
        cond = F.col("source").rlike(rule["regexp"])
        val = F.concat(F.lit(rule["new_tag_base"] + "."), F.col("env"))
        chain = F.when(cond, val) if chain is None else chain.when(cond, val)
    retagged = F.when(is_spring, chain.otherwise(F.col("tag"))).otherwise(F.col("tag"))
    return df.withColumn("tag", retagged).withColumn(
        "tag_base", F.regexp_replace(F.col("tag"), r"\.[a-z]+$", "")
    )


def accept_whitelist(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """DefaultFilter (``default_f.go:64-79``): drop empty tags and tags not in
    the accept list.  ``isin`` compiles to an in-set predicate (codegen'd);
    for very large whitelists swap to a broadcast left-semi join.
    """
    return df.filter((F.col("tag") != "") & F.col("tag").isin(cfg.accept_tags))


def acceptor_chain(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The full serial chain: spark -> spring -> default (controllor.go:183-245).

    Backpressure (``pipeline.go:158-180``) lives in the STREAMING variant,
    not here: the throttle maps to the source-side rate cap
    (``streaming/stream_pipeline.py::read_sequence_stream``) and the lossy
    drop-on-overload to ``streaming/stream_pipeline.py::shed_overload``; a
    batch plan itself never sheds (SURVEY.md §2.10).
    """
    return accept_whitelist(spring_retag(spark_filter(df, cfg), cfg), cfg)
