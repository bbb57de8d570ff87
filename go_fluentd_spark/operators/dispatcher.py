"""Dispatch / producer fan-out (reference ``internal/controller/dispacher.go``
+ ``producer.go:223-329`` + sender tag-sets ``senders/base.go:60-63``).

A row is delivered to EVERY sink whose tag-set contains its tag; rows with no
sink are auto-committed away (producer.go:251-255).  Restated as one inner
broadcast join against the (sink, tag) membership dim — duplication across
sinks falls out of join multiplicity.  ``write_sinks`` writes the sinks as N
filtered writes from one cached frame (no join, each write's predicate
pushed down); the manifested run (plans/manifest.py) writes the routed frame
in one job partitioned by (sink, bucket) instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_fluentd_spark.config import MUST_INCLUDE_FIELDS, PipelineConfig, sink_tag_rows
from go_fluentd_spark.session import local_table


def sink_membership(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    return local_table(spark, sink_tag_rows(cfg.sinks, cfg.envs), "sink string, tag string")


def route(spark: SparkSession, df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Logical fan-out: one row per (input row, matching sink)."""
    dim = sink_membership(spark, cfg)
    return df.join(F.broadcast(dim), "tag", "inner")


def route_counts(spark: SparkSession, df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The per-sink/per-tag aggregate counters (dispacher.go:154-177,
    monitor.go:19-42) — the correctness gate's headline aggregate.

    Round 6 (guide §2.3, aggregate before you multiply): counts are reduced
    per TAG first — the sink fan-out join then duplicates |tags| aggregate
    rows instead of every message row, and the count over a (sink, tag)
    pair equals the tag's count exactly because membership rows are unique
    per (sink, tag).  Same result, one row per matching membership."""
    per_tag = df.groupBy("tag").agg(F.count(F.lit(1)).alias("n"))
    dim = sink_membership(spark, cfg)
    return per_tag.join(F.broadcast(dim), "tag", "inner").select("sink", "tag", "n")


def http_sink_bodies(
    spark: SparkSession,
    routed: DataFrame,
    sink: str = "fluentd_backup",
    batch_size: int = 100,
) -> DataFrame:
    """HTTPSender batch marshalling (``internal/senders/httpforward.go:62-188``):
    the sender pulls messages off its queue into batches of ``batch_size``,
    JSON-marshals the batch as one array body, and POSTs it.  The network
    POST is I/O plumbing; the computational content — deterministic batch
    assembly + body serialization — is restated here and oracle-checked.

    Batching: the rank window partitions by TAG (the reference runs one
    sender queue per tag, ``senders/fluentd.go:54-209``), so each tag's rows
    sort independently — at scale every tag is its own task instead of the
    whole sink sorting in one; ``batch_id = floor(rank / batch_size)`` within
    the tag.  Deterministic, so the bodies are value-hash comparable.

    Null handling is EXPLICIT and mirrored in the oracle: msgid coalesces to
    "" and n_tok to -1 before marshalling (``to_json`` would silently OMIT a
    null field's key while the oracle's string concat would render text —
    a silent divergence instead of a loud one).
    """
    from pyspark.sql import Window

    rows = routed.filter(F.col("sink") == sink)
    rk = F.row_number().over(Window.partitionBy("tag").orderBy("doc_id"))
    obj = F.to_json(
        F.struct(
            F.col("doc_id"),
            F.col("tag"),
            F.coalesce(F.col("msgid"), F.lit("")).alias("msgid"),
            F.coalesce(F.col("n_tok"), F.lit(-1)).alias("n_tok"),
        )
    )
    return (
        rows.withColumn("_rk", rk)
        .withColumn("batch_id", F.floor((F.col("_rk") - 1) / batch_size))
        .groupBy("tag", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.concat(
                F.lit("["),
                F.array_join(F.array_sort(F.collect_list(F.struct(F.col("_rk"), obj.alias("obj")))).obj, ","),
                F.lit("]"),
            ).alias("body"),
        )
    )


def write_sinks(
    spark: SparkSession,
    df: DataFrame,
    cfg: PipelineConfig,
    out_dir: str,
    salt_buckets: int = 0,
) -> dict[str, str]:
    """Physical fan-out: one ``out_dir/sink=<name>`` parquet table per sink,
    partitioned by tag, overwritten whole.  The manifested run
    (plans/manifest.py) does not use it: it writes bucketed tables with
    commits in one job.

    One cached parsed frame, N filtered writes (producer.go:223-329).  Hot-tag
    skew (one tag can be ~100% of traffic, quickstart.md:122-127) is defused
    by salting the repartition key: (tag, pmod(xxhash64(doc_id), S)) — the
    explicit skew handling required at 10^12-row scale.
    """
    df = df.persist()
    paths: dict[str, str] = {}
    try:
        for sink in cfg.sinks:
            # membership predicate: env-qualified tags match exactly, bare
            # bases match all envs (settings.yml sender tag-list semantics)
            conds = []
            for t in sink.tags:
                if any(t.endswith("." + e) for e in cfg.envs):
                    conds.append(F.col("tag") == t)
                else:
                    conds.append(F.col("tag_base") == t)
            pred = conds[0]
            for c in conds[1:]:
                pred = pred | c
            part = df.filter(pred)
            if sink.include_fields:
                # FieldsFilter include projection (fields.go:54-81 +
                # library/const.go:8-17): a REAL select — the written table
                # contains exactly include ∪ MustIncludeFileds, and Catalyst
                # prunes the dropped columns out of the upstream scan
                keep = set(sink.include_fields) | set(MUST_INCLUDE_FIELDS)
                part = part.select(*[c for c in part.columns if c in keep])
            if salt_buckets:
                part = part.repartition(
                    spark.sparkContext.defaultParallelism,
                    F.col("tag"),
                    F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)),
                )
            paths[sink.name] = os.path.join(out_dir, f"sink={sink.name}")
            part.write.mode("overwrite").partitionBy("tag").parquet(paths[sink.name])
    finally:
        df.unpersist()
    return paths
