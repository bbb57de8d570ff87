"""Enrichment (reference add-config ``library/add.go:182-205`` + ES index map
``internal/senders/elasticsearch.go:21-28`` + msgid stamping
``internal/controller/producer.go:257``).

All lookups are small static dimensions -> BROADCAST hash joins (the
canonical lookup-enrich of the north_star).  At 100 TB the fact side streams
through map-side joins with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_fluentd_spark.config import PipelineConfig, es_index_rows
from go_fluentd_spark.functions.sqltext import sql_str
from go_fluentd_spark.session import local_table


def add_fields(spark: SparkSession, df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """ProcessAdd (``add.go:182-205``): per-tag constant fields.  Currently the
    shipped config only sets ``datasource`` (settings.yml:798-809); modeled as
    a (tag_base -> datasource) dim broadcast-joined on tag_base.
    """
    rows = [
        (base, fields["datasource"])
        for base, fields in cfg.add_fields.items()
        if "datasource" in fields
    ]
    dim = local_table(spark, rows, "tag_base string, datasource string")
    return df.join(F.broadcast(dim), "tag_base", "left")


def es_index(spark: SparkSession, df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """TagIndexMap (``elasticsearch.go:111-132``, settings.yml:503-526):
    tag -> ES index, env-substituted at plan build; unmapped tags keep NULL
    (the ES sender would skip them)."""
    dim = local_table(
        spark, es_index_rows(cfg.es_index_map, cfg.envs), "tag string, es_index string"
    )
    return df.join(F.broadcast(dim), "tag", "left")


def msgid(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """``Message["msgid"] = distributeKey + "-" + ID`` (producer.go:257;
    DistributeKey controllor.go:477-480)."""
    return df.withColumn("msgid", F.expr(f"concat({sql_str(cfg.run_key + '-')}, CAST(id AS STRING))"))
