"""Dispatch / producer fan-out (reference ``internal/controller/dispacher.go``
+ ``producer.go:223-329`` + sender tag-sets ``senders/base.go:60-63``).

A row is delivered to EVERY sink whose tag-set contains its tag; rows with no
sink are auto-committed away (producer.go:251-255).  ``route`` is the one
routing expression: per sink, a WHEN over that sink's env-expanded tags
(``config.sink_tag_rows``) yields the sink name, and the array of matches
is exploded, so a row duplicates into every matching sink (cp -> 2) and a
row matching none drops out, with no join and no dim.  ``write_fanout`` is
the one sink writer: the manifested run (plans/manifest.py) and the
stream's ``foreachBatch`` sink (streaming/stream_pipeline.py) both write
every sink through it, in one dynamic-overwrite job partitioned by sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_fluentd_spark.config import MUST_INCLUDE_FIELDS, PipelineConfig, sink_tag_rows
from go_fluentd_spark.functions.sqltext import ident, sql_in, sql_str, with_sql


def route(spark: SparkSession, df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Logical fan-out: one row per (input row, matching sink)."""
    members: dict[str, list[str]] = {}
    for sink, tag in sink_tag_rows(cfg.sinks, cfg.envs):
        members.setdefault(sink, []).append(tag)
    names = ", ".join(
        f"CASE WHEN {sql_in('tag', tags)} THEN {sql_str(s)} END" for s, tags in members.items()
    )
    return df.withColumn("sink", F.expr(f"explode(filter(array({names}), s -> (s IS NOT NULL)))"))


def route_counts(spark: SparkSession, df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The per-sink/per-tag aggregate counters (dispacher.go:154-177,
    monitor.go:19-42) — the correctness gate's headline aggregate.

    Aggregate before you multiply: counts are reduced per TAG first, and the
    fan-out then duplicates |tags| aggregate rows instead of every message
    row; a (sink, tag) pair's count is the tag's count."""
    per_tag = df.groupBy("tag").agg(F.count(F.lit(1)).alias("n"))
    return route(spark, per_tag, cfg).select("sink", "tag", "n")


def write_fanout(routed: DataFrame, cfg: PipelineConfig, out_dir: str, part: str) -> None:
    """Physical fan-out: every sink of a ``route``d frame in ONE write, a
    dynamic partition overwrite partitioned by ``(sink, part)`` into
    ``out_dir``, so each sink's table is ``out_dir/sink=<name>/`` and a
    rewrite replaces only the ``part`` partitions it holds (dynamic on this
    write alone: a static overwrite of ``out_dir`` would delete every other
    partition and whatever else lives there).

    FieldsFilter (``fields.go:54-81`` + ``library/const.go:8-17``): in a row
    of a sink with ``include_fields``, every column outside include ∪
    ``MUST_INCLUDE_FIELDS`` is NULL, as a key the filter drops reads NULL in
    a declared schema; the partition columns are never nulled.  Nulling per
    row keeps one schema and so one write: a write per projected schema
    would rerun the routed plan once per schema, and the sinks would no
    longer read back as one table."""
    keep = set(MUST_INCLUDE_FIELDS) | {"sink", part}
    dropped_by = {
        c: [s.name for s in cfg.sinks if s.include_fields and c not in keep | set(s.include_fields)]
        for c in routed.columns
    }
    filtered = with_sql(
        routed,
        {
            c: f"CASE WHEN (NOT {sql_in('sink', sinks)}) THEN {ident(c)} END"
            for c, sinks in dropped_by.items()
            if sinks
        },
    )
    (
        filtered.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("sink", part)
        .parquet(out_dir)
    )


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
