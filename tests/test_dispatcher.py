"""Producer fan-out (K1/K2): the one routing expression, the one sink
writer and its FieldsFilter, duplication/no-sink semantics."""

import dataclasses
import os

from pyspark.sql import functions as F

from go_fluentd_spark.config import (
    DEFAULT_CONFIG,
    MUST_INCLUDE_FIELDS,
    PipelineConfig,
    SinkConfig,
    sink_tag_rows,
)
from go_fluentd_spark.operators.dispatcher import route, write_fanout
from go_fluentd_spark.plans import pipeline as P
from go_fluentd_spark.sources.synth import sequences_df
from go_fluentd_spark.streaming.stream_pipeline import drain_and_stop, run_pipeline_stream


def test_write_sinks_salted_matches_logical_route(spark, sf_dir, tmp_path):
    """The physical fan-out of ``write_fanout`` (partitioned by sink, then
    tag: the ES-index/topic routing key) holds exactly the logical
    ``route``'s rows in each sink, and every cp row lands in both
    es_general and kafka_cp (producer.go:309-325 fan-out semantics)."""
    enriched = P.enriched(spark, sf_dir)
    logical = route(spark, enriched, DEFAULT_CONFIG)
    expected = {
        s.name: sorted(
            r.doc_id for r in logical.filter(F.col("sink") == s.name).select("doc_id").collect()
        )
        for s in DEFAULT_CONFIG.sinks
    }
    assert set(expected) == {"es_general", "kafka_cp", "fluentd_backup"}

    write_fanout(logical, DEFAULT_CONFIG, str(tmp_path), "tag")
    assert set(os.listdir(tmp_path)) - {"_SUCCESS"} == {f"sink={s}" for s in expected}
    docs = {}
    for sink in expected:
        path = str(tmp_path / f"sink={sink}")
        docs[sink] = sorted(
            r.doc_id for r in spark.read.parquet(path).select("doc_id").collect()
        )
        assert docs[sink] == expected[sink], sink
        assert any(d.startswith("tag=") for d in os.listdir(path)), sink

    assert docs["kafka_cp"] and set(docs["kafka_cp"]) <= set(docs["es_general"])


def test_include_fields_true_projection(spark, sf_dir, tmp_path):
    """fields.go:54-81 + library/const.go:8-17 on the pipeline's rows: a
    sink with an include list carries values in EXACTLY include ∪
    MustIncludeFileds (every other column reads NULL in all its rows),
    while a sink without one keeps every value of the routed rows."""
    enriched = P.enriched(spark, sf_dir)
    routed = route(spark, enriched, DEFAULT_CONFIG)
    write_fanout(routed, DEFAULT_CONFIG, str(tmp_path), "tag")
    kafka_cfg = next(s for s in DEFAULT_CONFIG.sinks if s.name == "kafka_cp")
    assert kafka_cfg.include_fields

    kafka = spark.read.parquet(str(tmp_path / "sink=kafka_cp"))
    assert kafka.count() > 0

    def valued(df):
        counts = df.select(*[F.count(c).alias(c) for c in enriched.columns]).first()
        return {c for c, n in counts.asDict().items() if n}

    got = valued(kafka)
    expected = (set(kafka_cfg.include_fields) | set(MUST_INCLUDE_FIELDS)) & valued(
        routed.filter(F.col("sink") == "kafka_cp")
    )
    assert got == expected, got ^ expected
    assert {"tag", "doc_id", "message", "tokens"} <= got

    es = spark.read.parquet(str(tmp_path / "sink=es_general"))
    assert set(enriched.columns) <= set(es.columns)
    cols = sorted(set(enriched.columns) - {"args_map"})
    want = routed.filter(F.col("sink") == "es_general").select(*cols)
    assert want.exceptAll(es.select(*cols)).count() == 0
    assert es.select(*cols).exceptAll(want).count() == 0


def test_write_fanout_nulls_outside_include_fields(spark, tmp_path):
    """fields.go:54-81 + library/const.go:8-17 at the one sink write: in a
    row of a sink with an include list, every column outside include ∪
    MustIncludeFileds reads NULL; the same message in a sink without one
    keeps every value, and the partition columns are never nulled."""
    cfg = PipelineConfig(
        envs=["sit"],
        sinks=[
            SinkConfig(name="full", tags=("cp",)),
            SinkConfig(name="narrow", tags=("cp",), include_fields=("message",)),
        ],
    )
    df = spark.createDataFrame(
        [("d1", "cp.sit", "m", "noise", [1, 2], 7)],
        "doc_id string, tag string, message string, extra string, tokens array<int>, part int",
    )
    write_fanout(route(spark, df, cfg), cfg, str(tmp_path), "part")
    got = {r.sink: r.asDict() for r in spark.read.parquet(str(tmp_path)).collect()}
    full = {"doc_id": "d1", "tag": "cp.sit", "message": "m", "extra": "noise",
            "tokens": [1, 2], "part": 7}
    assert got == {"full": {**full, "sink": "full"},
                   "narrow": {**full, "extra": None, "sink": "narrow"}}


def test_batch_and_stream_route_an_env_outside_cfg_envs_alike(spark, sf_dir, tmp_path):
    """A sink's bare tag base matches the base in ``cfg.envs`` only
    (``config.sink_tag_rows``), in the batch route and in the stream sink
    alike: with envs sit and uat, the accepted ``*.prod`` rows reach no
    sink that lists their base."""
    cfg = dataclasses.replace(DEFAULT_CONFIG, envs=["sit", "uat"])
    members = sink_tag_rows(cfg.sinks, cfg.envs)

    def want(tags):
        return {(s, t) for s, t in members if t in tags}

    def pairs(df):
        return {(r.sink, r.tag) for r in df.select("sink", "tag").distinct().collect()}

    enriched = P.enriched(spark, sf_dir, cfg)
    tags = {r.tag for r in enriched.select("tag").distinct().collect()}
    assert {"cp.prod", "app.spring.prod"} <= tags
    assert pairs(route(spark, enriched, cfg)) == want(tags)

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    sequences_df(spark, sf_dir).coalesce(1).write.parquet(src)
    q = run_pipeline_stream(spark, src, out, str(tmp_path / "ck"), cfg=cfg, with_concat=False)
    assert drain_and_stop(q)
    counted = spark.read.parquet(f"{out}/_counts")
    stream_tags = {r.tag for r in counted.select("tag").distinct().collect()}
    assert {"cp.prod", "app.spring.prod"} <= stream_tags
    assert pairs(spark.read.parquet(out)) == want(stream_tags)


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
