"""End-to-end plan builder: the whole reference dataflow
(``acceptor -> acceptpipeline -> journal -> dispatcher -> tagPipeline ->
postFilter -> producer``, settings.yml:56) as ONE logical DataFrame program
that Catalyst plans: scan -> ingest columns -> concat window -> acceptor
predicates -> single-pass parse -> broadcast enrich -> post surgery -> fan-out.

Stage/thread boundaries of the reference become shuffle boundaries here; the
only required shuffle is the concat window's (tag, container_id) hash
partition — everything else is narrow or broadcast (SURVEY.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from go_fluentd_spark.config import DEFAULT_CONFIG, PipelineConfig
from go_fluentd_spark.operators.acceptor import acceptor_chain
from go_fluentd_spark.operators.concat import concat_sessions
from go_fluentd_spark.operators.dispatcher import route, route_counts
from go_fluentd_spark.operators.enrich import add_fields, es_index, msgid
from go_fluentd_spark.operators.parser import parse
from go_fluentd_spark.operators.postfilter import post_default
from go_fluentd_spark.sources.synth import sequences_df, with_ingest_columns

#: message string columns the post default filter operates on — shared with
#: the DuckDB oracle so both sides apply surgery to the same field set
POST_STRING_COLS = [
    "source",
    "time",
    "app",
    "project",
    "level",
    "thread",
    "class",
    "line",
    "args",
    "message",
    "ts",
    "datasource",
]

#: what a count of the parse output reads: the routing tag, the id ``msgid``
#: builds on and the parse's own inputs.  The parse is a map-in node, which
#: Catalyst cannot column-prune, so a consumer that only counts selects these
#: before it (the concat aggregate then skips ``tokens`` and ``ext_ids`` too)
COUNT_COLUMNS = ["tag", "id", "tag_base", "source"]


def ingested(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT_CONFIG, rep: int = 1
) -> DataFrame:
    """``rep`` > 1 replicates the source (benchmark sizes); correctness paths
    keep rep=1."""
    return with_ingest_columns(sequences_df(spark, sf_dir, rep=rep))


def concatted(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT_CONFIG, rep: int = 1
) -> DataFrame:
    return concat_sessions(ingested(spark, sf_dir, cfg, rep), max_len=cfg.concat_max_len)


def accepted(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT_CONFIG, rep: int = 1
) -> DataFrame:
    return acceptor_chain(concatted(spark, sf_dir, cfg, rep), cfg)


def parsed(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT_CONFIG, rep: int = 1
) -> DataFrame:
    return parse(accepted(spark, sf_dir, cfg, rep), cfg)


def enrich(spark: SparkSession, df: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """The per-message tail over a parsed frame: add_fields -> post default
    filter -> es index -> msgid."""
    df = add_fields(spark, df, cfg)
    df = post_default(df, cfg, msg_cols=POST_STRING_COLS)
    df = es_index(spark, df, cfg)
    return msgid(df, cfg)


def enriched(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT_CONFIG, rep: int = 1
) -> DataFrame:
    return enrich(spark, parsed(spark, sf_dir, cfg, rep), cfg)


def routed(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT_CONFIG, rep: int = 1
) -> DataFrame:
    return route(spark, enriched(spark, sf_dir, cfg, rep), cfg)


def sink_counts(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT_CONFIG, rep: int = 1
) -> DataFrame:
    df = parse(accepted(spark, sf_dir, cfg, rep).select(*COUNT_COLUMNS), cfg)
    return route_counts(spark, enrich(spark, df, cfg), cfg)
