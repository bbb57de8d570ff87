"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (per-sink/per-tag routed counts —
the reference's headline aggregate, ``internal/controller/dispacher.go:154-177``)
at sf0.001.  ``queries()`` exposes one entry per implemented operator from
SURVEY.md §2; ``oracle_sql()`` returns the DuckDB mirror built by
``go_fluentd_spark.oracle`` (the tokenized-sequence input table is derived
deterministically from the ``documents`` view on BOTH sides, so every stage
is value-hash checkable).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from go_fluentd_spark import oracle, oracle_dataprep, oracle_recv  # noqa: E402
from go_fluentd_spark.operators import dataprep as DP  # noqa: E402
from go_fluentd_spark.operators import multimodal as MM  # noqa: E402
from go_fluentd_spark.operators import recv as RV  # noqa: E402
from go_fluentd_spark.plans import pipeline as P  # noqa: E402
from go_fluentd_spark.session import ensure_session_defaults  # noqa: E402
from go_fluentd_spark.sources.synth import sequences_df  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    ensure_session_defaults(spark)
    return P.sink_counts(spark, "/root/testdata/sf0.001")


def _q_ingest_tag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.ingested(spark, sf_dir).groupBy("tag").agg(F.count(F.lit(1)).alias("n"))


def _q_concat_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.concatted(spark, sf_dir).select(
        "doc_id",
        "tag",
        "container_id",
        "id",
        "source",
        F.col("n_merged").cast("bigint").alias("n_merged"),
        F.array_join("ext_ids", ",").alias("ext_ids_csv"),
    )


def _q_acceptor_tag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.accepted(spark, sf_dir).groupBy("tag").agg(F.count(F.lit(1)).alias("n"))


def _q_parsed_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.parsed(spark, sf_dir).select(
        "doc_id",
        "tag",
        "time",
        "app",
        "project",
        "level",
        "thread",
        "class",
        "line",
        "args",
        "args__k",
        "args__nested__a",
        "message",
        "ts",
        F.array_join("tokens", ",").alias("tokens_csv"),
        "n_tok",
    )


def _q_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.sink_counts(spark, sf_dir)


def _q_routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.routed(spark, sf_dir).select(
        "sink",
        "doc_id",
        "tag",
        "es_index",
        "datasource",
        "app",
        "project",
        "level",
        "class",
        "line",
        "message",
        "ts",
        "msgid",
        F.array_join("tokens", ",").alias("tokens_csv"),
        "n_tok",
    )


def _wrap(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_session_defaults(spark)
        return fn(spark, sf_dir)

    return run


#: training-data ops (operators/dataprep.py) — oracle-checked unless noted
_DATAPREP = {
    "dedup_exact": DP.dedup_exact,
    "fingerprints": DP.fingerprints,
    "winnow_fingerprints": DP.winnow_fingerprints,
    # tokens-NATIVE dedup signal over the sequence table itself
    "token_ngram_dup_stats": DP.token_ngram_dup_stats,
    # its successor (NEW r5): suffix-array-style duplicated-substring SPANS
    # + the trainer-facing cut (kept tokens re-packed), linear shapes only
    "substr_dup_spans": DP.substr_dup_spans,
    # tokens-NATIVE training-window chunking (zero-shuffle narrow explode)
    "sequence_chunks": DP.sequence_chunks,
    # token-vocabulary frequency/rank/coverage table (tokenizer-bounded)
    "token_vocab_topk": DP.token_vocab_topk,
    # corpus length profile (totals + interpolated n_tok quantiles)
    "sequence_length_stats": DP.sequence_length_stats,
    # PII detection + redaction hygiene pass (counts + cleaned-text hash)
    "pii_scrub": DP.pii_scrub,
    # the shipped end-to-end curation decision (rep ∧ quality ∧ lang)
    "corpus_curation": DP.corpus_curation,
    "token_stats": DP.token_stats,
    "quality_scores": DP.quality_scores,
    "langid": DP.langid,
    "minhash_signatures": DP.minhash_signatures,
    "minhash_lsh_pairs": DP.minhash_lsh_pairs,
    # BOTH bucket-hygiene audits (minhash + embedding bands) in one
    # engine-keyed entry — consolidated in round 5 so every registry entry
    # fits the driver's 50-query correctness capture (VERDICT r4 item 2)
    "lsh_band_stats": DP.lsh_band_stats,
    "ngram_jaccard_pairs": DP.ngram_jaccard_pairs,
    # connected components over the LSH pairs (large-star/small-star to
    # the fixed point) — cluster id + representative per doc
    "dedup_clusters": DP.dedup_clusters,
    # the embedding-space twin (CC over banded cosine pairs)
    "embed_dedup_clusters": DP.embed_dedup_clusters,
    "simhash16": DP.simhash16,
    "embed_cosine_scores": DP.embed_cosine_scores,
    "embed_lsh_buckets": DP.embed_lsh_buckets,
    "embed_near_pairs": DP.embed_near_pairs,
    "embed_ivf_assign": DP.embed_ivf_assign,
    # top-k is oracle-checkable: (cos DESC, vec_id) is a TOTAL order, so
    # ORDER BY ... LIMIT k is deterministic in both engines; brute + IVF
    # are one method-keyed entry (round-5 capture-slot consolidation)
    "embed_topk_methods": DP.embed_topk_methods,
    # scale path: banded hyperplane signatures + per-bucket caps
    # (its hygiene audit lives in the consolidated lsh_band_stats entry)
    "embed_banded_pairs": DP.embed_banded_pairs,
    # the REAL iterative k-means IVF — oracle-checked END TO END: the
    # deterministic distributed Lloyd fit is unrolled in the DuckDB twin
    # (fixed iterations + per-iteration rounding), so fit + assignment +
    # probe + top-k all value-hash-match; recall@10 is pinned by pytest
    "embed_ivf_kmeans_topk": DP.embed_ivf_kmeans_topk,
    # REAL multimodal codecs, first-class under the gate: Spark PARSES the
    # synthesized BMP/WAV/MP4 containers; the twin recomputes expected
    # geometry + strata features from the same doc_id arithmetic
    "media_geometry": MM.media_geometry,
    # curation folded over the media signal (geometry floor + exact-feature
    # media dedup rep) ...
    "corpus_curation_mm": DP.corpus_curation_mm,
    # ... and the end-to-end training-ready output: chunks of sequences
    # whose linked doc survived the full text+media curation
    "curated_chunks": DP.curated_chunks,
    # Gopher-style intra-doc repetition signals (dup-occurrence fraction +
    # top-gram share)
    "repetition_stats": DP.repetition_stats,
    # eval-set decontamination screen (distinct-gram overlap vs a held-out
    # benchmark sample)
    "benchmark_contamination": DP.benchmark_contamination,
}


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _q_http_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    ts_str = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    sig = F.when(
        F.col("event_id") % 2 == 0,
        F.md5(F.concat(ts_str, F.lit(oracle_recv.SALT))),
    ).otherwise(F.lit("deadbeef"))
    df = e.select(
        "event_id", ts_str.alias("ts_str"), sig.alias("sig"), F.col("props").alias("body")
    )
    return RV.http_validate(
        df,
        salt=oracle_recv.SALT,
        not_before=oracle_recv.NOT_BEFORE,
        not_after=oracle_recv.NOT_AFTER,
    ).select("event_id", "ts_str")


def _q_http_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTPRecv FULL source path (http.go:163-212): signature/window
    validation -> JSON body decode -> FlattenMap to a__b keys -> tag stamp;
    non-JSON bodies discarded.  The body is built deterministically from the
    events row (nested object + one corrupt row in 97) so the flatten and
    the discard are both exercised and oracle-checked."""
    e = _events(spark, sf_dir)
    ts_str = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    sig = F.when(
        F.col("event_id") % 2 == 0,
        F.md5(F.concat(ts_str, F.lit(oracle_recv.SALT))),
    ).otherwise(F.lit("deadbeef"))
    body = F.when(F.col("event_id") % 97 == 0, F.lit("not json")).otherwise(
        F.concat(
            F.lit('{"cnt": "'),
            F.col("user_id").cast("string"),
            F.lit('", "meta": {"type": "'),
            F.col("event_type"),
            F.lit('", "kk": "'),
            F.get_json_object("props", "$.k"),
            F.lit('"}}'),
        )
    )
    df = e.select(
        "event_id", ts_str.alias("ts_str"), sig.alias("sig"), body.alias("body")
    )
    out = RV.http_ingest(
        df,
        salt=oracle_recv.SALT,
        not_before=oracle_recv.NOT_BEFORE,
        not_after=oracle_recv.NOT_AFTER,
    )
    return out.select(
        "event_id",
        "tag",
        F.try_element_at("msg", F.lit("cnt")).alias("cnt"),
        F.try_element_at("msg", F.lit("meta__type")).alias("meta__type"),
        F.try_element_at("msg", F.lit("meta__kk")).alias("meta__kk"),
    )


def _q_rsyslog_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = RV.rsyslog_normalize(
        _events(spark, sf_dir), time_col="ts", shift_hours=8, msg_key="props"
    )
    return df.select(
        "event_id", F.col("@timestamp").alias("at_ts"), "message", "tag"
    )


def _q_es_retag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir).withColumn(
        "tag", F.concat("event_type", F.lit(".sit"))
    )
    return (
        RV.es_dispatch_retag(df, oracle_recv.RETAG_MAP)
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_kafka_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = RV.kafka_json_decode(
        _events(spark, sf_dir).withColumn("value", F.col("props")),
        default_tag="kafkabuf.sit",
        tag_key=None,
    )
    return df.select(
        "event_id",
        F.try_element_at(F.col("msg"), F.lit("k")).alias("k_val"),
        "tag",
    )


def _q_kafka_sink_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KafkaSender value serialization (internal/senders/kafka.go:64-188):
    each routed row JSON-marshalled as the kafka message value."""
    df = P.routed(spark, sf_dir).filter(F.col("sink") == "kafka_cp")
    return df.select(
        "doc_id",
        F.to_json(F.struct("doc_id", "tag", "msgid", "n_tok")).alias("value"),
    )


def _q_http_sink_bodies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTPSender batch bodies (httpforward.go:62-188): deterministic batch
    assembly + JSON-array marshalling of a sink's routed rows."""
    from go_fluentd_spark.operators.dispatcher import http_sink_bodies

    return http_sink_bodies(spark, P.routed(spark, sf_dir))


def _q_stage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage monitor totals (monitor.go:19-42): rows at every pipeline
    stage + discards, so conservation (concat = parsed + discarded) is
    checkable in one result."""
    from go_fluentd_spark.operators.monitor import stage_counts

    return stage_counts(spark, sf_dir)


def _q_discards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_fluentd_spark.config import DEFAULT_CONFIG
    from go_fluentd_spark.operators.audit import discard_reasons

    return discard_reasons(P.concatted(spark, sf_dir), DEFAULT_CONFIG)


def _q_template_engines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """%{...} engine (library/add.go:60-147) and ${...} engine
    (library/utils.go:87-117) compiled to Columns, over the events frame."""
    from go_fluentd_spark.functions.textops import replace_str_by_msg, template_with_map

    df = _events(spark, sf_dir).select(
        "event_id",
        F.col("event_type").alias("tag"),
        F.col("user_id").alias("id"),
        F.col("value"),
    )
    pct = replace_str_by_msg("%{@tag}-%{@id}|%{@upper:tag}|%{missing}", df.columns)
    dollar = template_with_map("u=${id} t=${tag} none=${nope}!", df.columns)
    return df.select(
        "event_id", pct.alias("pct_tpl"), dollar.alias("dollar_tpl")
    )


def _q_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-receiver channel merge (controllor.go wires every receiver into
    one acceptor stream): the fluentd scan, the kafka decode, and the rsyslog
    normalization unioned by name into the common acceptor shape."""
    seq = P.ingested(spark, sf_dir).select(
        F.lit("fluentd").alias("origin"),
        F.col("doc_id").alias("msg_id"),
        "tag",
        F.col("source").alias("message"),
    )
    ev = _events(spark, sf_dir)
    kafka = RV.kafka_json_decode(
        ev.withColumn("value", F.col("props")), default_tag="kafkabuf.sit", tag_key=None
    ).select(
        F.lit("kafka").alias("origin"),
        F.concat(F.lit("k"), F.col("event_id").cast("string")).alias("msg_id"),
        "tag",
        F.try_element_at(F.col("msg"), F.lit("k")).alias("message"),
    )
    rsys = RV.rsyslog_normalize(
        ev, time_col="ts", shift_hours=8, msg_key="props"
    ).select(
        F.lit("rsyslog").alias("origin"),
        F.concat(F.lit("r"), F.col("event_id").cast("string")).alias("msg_id"),
        "tag",
        "message",
    )
    http = _q_http_ingest(spark, sf_dir).select(
        F.lit("http").alias("origin"),
        F.concat(F.lit("h"), F.col("event_id").cast("string")).alias("msg_id"),
        "tag",
        F.col("cnt").alias("message"),
    )
    return seq.unionByName(kafka).unionByName(rsys).unionByName(http)


def _q_replay_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journal committed-id dedup (journal.go:41,58; settings.yml:602): an
    at-least-once replay re-delivers rows; the dedup window collapses them.
    Simulated by unioning the source with a partial replay of itself."""
    base = sequences_df(spark, sf_dir)
    seq_no = F.split_part(F.col("doc_id"), F.lit("-"), F.lit(3)).cast("bigint")
    replay = base.filter(seq_no % 3 == 0)
    merged = base.unionByName(replay)
    deduped = merged.dropDuplicates(["doc_id"])
    return deduped.groupBy().agg(
        F.count(F.lit(1)).alias("n_unique"),
    ).crossJoin(merged.groupBy().agg(F.count(F.lit(1)).alias("n_delivered")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = {
        # the raw source scan's own entry was folded into routed_rows +
        # ingest_tag_counts (round 5): 52 registry entries overflowed the
        # driver's 50-query capture and left the tail unverified
        "ingest_tag_counts": _wrap(_q_ingest_tag_counts),
        "concat_sessions": _wrap(_q_concat_sessions),
        "acceptor_tag_counts": _wrap(_q_acceptor_tag_counts),
        "parsed_fields": _wrap(_q_parsed_fields),
        "sink_counts": _wrap(_q_sink_counts),
        "routed_rows": _wrap(_q_routed_rows),
        "discards": _wrap(_q_discards),
        "stage_counts": _wrap(_q_stage_counts),
        "http_sink_bodies": _wrap(_q_http_sink_bodies),
    }
    qs.update({name: _wrap(fn) for name, fn in _DATAPREP.items()})
    qs.update(
        {
            "http_validate": _wrap(_q_http_validate),
            "http_ingest": _wrap(_q_http_ingest),
            "rsyslog_normalize": _wrap(_q_rsyslog_normalize),
            "es_retag_counts": _wrap(_q_es_retag_counts),
            "kafka_json_decode": _wrap(_q_kafka_json_decode),
            "kafka_sink_values": _wrap(_q_kafka_sink_values),
            "template_engines": _wrap(_q_template_engines),
            "union_sources": _wrap(_q_union_sources),
            "replay_dedup": _wrap(_q_replay_dedup),
        }
    )
    return qs


def oracle_sql() -> dict[str, str]:
    out = {
        "ingest_tag_counts": oracle.q_ingest_tag_counts(),
        "concat_sessions": oracle.q_concat_sessions(),
        "acceptor_tag_counts": oracle.q_acceptor_tag_counts(),
        "parsed_fields": oracle.q_parsed_fields(),
        "sink_counts": oracle.q_sink_counts(),
        "routed_rows": oracle.q_routed_rows(),
        "kafka_sink_values": oracle.q_kafka_sink_values(),
        "discards": oracle.q_discards(),
        "stage_counts": oracle.q_stage_counts(),
        "http_sink_bodies": oracle.q_http_sink_bodies(),
        "union_sources": oracle.q_union_sources(),
        "token_ngram_dup_stats": oracle.q_token_ngram_dup_stats(),
        "substr_dup_spans": oracle.q_substr_dup_spans(),
        "sequence_chunks": oracle.q_sequence_chunks(),
        "token_vocab_topk": oracle.q_token_vocab_topk(),
        "sequence_length_stats": oracle.q_sequence_length_stats(),
        "replay_dedup": oracle.q_replay_dedup(),
    }
    out.update({name: fn() for name, fn in oracle_dataprep.ORACLES.items()})
    out.update({name: fn() for name, fn in oracle_recv.ORACLES.items()})
    return out
