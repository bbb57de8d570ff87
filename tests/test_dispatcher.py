"""Producer fan-out physical writes (K1/K2): per-sink tables, tag
partitioning, salted repartition, duplication/no-sink semantics."""

import os

from pyspark.sql import functions as F

from go_fluentd_spark.config import DEFAULT_CONFIG
from go_fluentd_spark.operators.dispatcher import route, write_sinks
from go_fluentd_spark.plans import pipeline as P


def test_write_sinks_salted_matches_logical_route(spark, sf_dir, tmp_path):
    enriched = P.enriched(spark, sf_dir)
    logical = route(spark, enriched, DEFAULT_CONFIG)
    expected = {
        s: sorted(
            r.doc_id for r in logical.filter(F.col("sink") == s).select("doc_id").collect()
        )
        for s in ("es_general", "kafka_cp", "fluentd_backup")
    }

    paths = write_sinks(spark, enriched, DEFAULT_CONFIG, str(tmp_path), salt_buckets=4)
    assert set(paths) == set(expected)
    for sink, path in paths.items():
        got = sorted(r.doc_id for r in spark.read.parquet(path).select("doc_id").collect())
        assert got == expected[sink], sink
        # physical layout: partitioned by tag (the ES-index/topic routing key)
        assert any(d.startswith("tag=") for d in os.listdir(path))

    # duplication across sinks: every cp row lands in BOTH es_general and
    # kafka_cp (producer.go:309-325 fan-out semantics)
    cp_in_kafka = set(
        r.doc_id
        for r in spark.read.parquet(paths["kafka_cp"]).select("doc_id").collect()
    )
    es = set(
        r.doc_id
        for r in spark.read.parquet(paths["es_general"]).select("doc_id").collect()
    )
    assert cp_in_kafka and cp_in_kafka <= es


def test_include_fields_true_projection(spark, sf_dir, tmp_path):
    """fields.go:54-81 + library/const.go:8-17: a sink with an include list
    writes EXACTLY include ∪ MustIncludeFileds — a real projection, not
    nulled columns."""
    from go_fluentd_spark.config import MUST_INCLUDE_FIELDS

    enriched = P.enriched(spark, sf_dir)
    paths = write_sinks(spark, enriched, DEFAULT_CONFIG, str(tmp_path))
    kafka_cfg = next(s for s in DEFAULT_CONFIG.sinks if s.name == "kafka_cp")
    assert kafka_cfg.include_fields
    got = set(spark.read.parquet(paths["kafka_cp"]).columns)
    expected = (set(kafka_cfg.include_fields) | set(MUST_INCLUDE_FIELDS)) & set(
        enriched.columns
    )
    assert got == expected, got ^ expected
    # sinks without an include list keep the full schema
    full = set(spark.read.parquet(paths["es_general"]).columns)
    assert set(enriched.columns) <= full


def test_every_synth_family_reaches_its_sink(spark, sf_dir):
    """Routed-coverage audit (round-1 ADVICE): every tag family the synth
    corpus emits must reach its documented sink — a family silently vanishing
    upstream (e.g. the ramjet .{27} regex bug) fails here even though the
    Spark/oracle parity gate can't see it (both sides share the config)."""
    got = {
        (r.tag_base, r.sink)
        for r in P.routed(spark, sf_dir)
        .select(F.regexp_replace("tag", r"\.[a-z]+$", "").alias("tag_base"), "sink")
        .distinct()
        .collect()
    }
    expected = {
        ("app.spring", "es_general"),
        ("bot", "es_general"),
        ("cp", "es_general"),
        ("cp", "kafka_cp"),
        ("connector", "es_general"),
        ("spark", "es_general"),
        ("ramjet", "es_general"),
        ("geely", "fluentd_backup"),
    }
    missing = expected - got
    assert not missing, f"families missing from their sinks: {missing}"
