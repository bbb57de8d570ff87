"""Structured Streaming pipeline: stateful concat across micro-batches +
foreachBatch sink fan-out, checkpointed restart."""

import os
import shutil

from pyspark.sql import functions as F

from go_fluentd_spark.sources.synth import sequences_df
from go_fluentd_spark.streaming.stream_pipeline import drain_and_stop, run_pipeline_stream


def _write_batch(spark, sf_dir, dest, part):
    df = sequences_df(spark, sf_dir)
    df = df.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == part)
    df.coalesce(1).write.mode("append").parquet(dest)


def test_stream_two_batches_with_restart(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: half the rows
    _write_batch(spark, sf_dir, src, 0)
    q = run_pipeline_stream(spark, src, out, ckpt)
    assert drain_and_stop(q)  # settled drain reports True (ADVICE r5)

    # batch 2: remaining rows; NEW query from the same checkpoint (restart)
    _write_batch(spark, sf_dir, src, 1)
    q2 = run_pipeline_stream(spark, src, out, ckpt)
    assert drain_and_stop(q2)

    got = spark.read.parquet(os.path.join(out, "sink=es_general"))
    # the batch pipeline (no streaming gap-flush pending sessions) is the
    # floor: every batch-parsed row routed to es_general must also appear in
    # the streaming output exactly once (no dupes across restart)
    ids = [r.doc_id for r in got.select("doc_id").collect()]
    assert len(ids) == len(set(ids)), "duplicate rows across restarted batches"
    assert len(ids) > 0
    counts = spark.read.parquet(os.path.join(out, "_counts"))
    assert counts.agg(F.sum("n")).collect()[0][0] >= len(ids)


def test_stream_batch_retry_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a crash after the sink writes but
    before the offset commit re-delivers the SAME micro-batch (same
    batch_id) on restart.  Every per-batch write (sink tables, _counts)
    overwrites its own batch_id partition, so the retry leaves row counts
    unchanged — simulated by discarding the checkpoint so the identical
    files re-deliver as batch 0 against the same out_dir."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    _write_batch(spark, sf_dir, src, 0)
    q = run_pipeline_stream(spark, src, out, str(tmp_path / "ck"), with_concat=False)
    drain_and_stop(q)
    sink_n = spark.read.parquet(os.path.join(out, "sink=es_general")).count()
    counts_n = spark.read.parquet(os.path.join(out, "_counts")).agg(
        F.sum("n")
    ).collect()[0][0]

    # retry: fresh checkpoint -> the same input re-delivered as batch_id 0
    q2 = run_pipeline_stream(spark, src, out, str(tmp_path / "ck2"), with_concat=False)
    drain_and_stop(q2)
    assert spark.read.parquet(os.path.join(out, "sink=es_general")).count() == sink_n
    assert (
        spark.read.parquet(os.path.join(out, "_counts")).agg(F.sum("n")).collect()[0][0]
        == counts_n
    )


def test_stream_sinks_honour_fields_filter(spark, sf_dir, tmp_path):
    """The stream writes through the batch's sink writer, FieldsFilter
    included: in kafka_cp every column outside include ∪
    MUST_INCLUDE_FIELDS is NULL and the rest equal the same messages'
    es_general rows, which keep their other columns."""
    from go_fluentd_spark.config import DEFAULT_CONFIG, MUST_INCLUDE_FIELDS

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _write_batch(spark, sf_dir, src, 0)
    q = run_pipeline_stream(spark, src, out, str(tmp_path / "ck"), with_concat=False)
    assert drain_and_stop(q)
    kafka = spark.read.parquet(os.path.join(out, "sink=kafka_cp"))
    cp = spark.read.parquet(os.path.join(out, "sink=es_general")).filter(
        F.col("tag").startswith("cp.")
    )
    kafka_cfg = next(s for s in DEFAULT_CONFIG.sinks if s.name == "kafka_cp")
    include = set(kafka_cfg.include_fields) | set(MUST_INCLUDE_FIELDS) | {"batch_id"}
    keep = [c for c in kafka.columns if c in include]
    dropped = [c for c in kafka.columns if c not in include]
    assert kafka.columns == cp.columns and dropped
    assert set(kafka.select(*[F.count(c) for c in dropped]).first()) == {0}
    assert all(cp.select(*[F.count(c) for c in ("tag_base", "env", "id")]).first())

    def by_doc(df):
        return {r.doc_id: r for r in df.select(*keep).collect()}

    assert by_doc(kafka) and by_doc(kafka) == by_doc(cp)


def test_legacy_flat_layout_refused(spark, tmp_path):
    """A pre-upgrade out_dir with flat (unpartitioned) parquet at a table
    root must be refused, not silently mixed with batch_id=N dirs."""
    import pytest

    from go_fluentd_spark.streaming.stream_pipeline import _write_batch_partition

    path = str(tmp_path / "_counts")
    df = spark.range(3).select(F.lit("t").alias("tag"), F.col("id").alias("n"))
    df.write.mode("append").parquet(path)  # legacy flat layout
    with pytest.raises(ValueError, match="legacy flat"):
        _write_batch_partition(df, path, 0)


def test_stream_lossy_drop_on_overload(spark, sf_dir, tmp_path):
    """LOSSY backpressure (acceptorfilters/pipeline.go:170-180): with the
    shed path armed, a micro-batch delivering more rows for one tag than the
    per-trigger budget drops the excess — deterministically, with the drop
    AUDITED per (batch, tag) — and conservation holds: delivered + shed =
    what an unshedded run delivers."""
    src = str(tmp_path / "src")
    _write_batch(spark, sf_dir, src, 0)
    _write_batch(spark, sf_dir, src, 1)  # both halves -> one fat batch

    # control: same input, no shedding (concat off on both runs: shed
    # operates on parsed rows, and availableNow may split file batches)
    q0 = run_pipeline_stream(
        spark, src, str(tmp_path / "out0"), str(tmp_path / "ck0"), with_concat=False
    )
    drain_and_stop(q0)
    counts0 = spark.read.parquet(str(tmp_path / "out0/_counts"))
    total0 = counts0.agg(F.sum("n")).collect()[0][0]

    cap = 40
    q = run_pipeline_stream(
        spark, src, str(tmp_path / "out1"), str(tmp_path / "ck1"),
        with_concat=False, shed_max_per_tag=cap,
    )
    drain_and_stop(q)
    counts1 = spark.read.parquet(str(tmp_path / "out1/_counts"))
    shed = spark.read.parquet(str(tmp_path / "out1/_shed"))
    delivered = counts1.agg(F.sum("n")).collect()[0][0]
    n_shed = shed.agg(F.sum("n_shed")).collect()[0][0] or 0
    assert n_shed > 0, "cap should actually shed on this input"
    assert delivered + n_shed == total0
    # per (batch, tag) the delivered count never exceeds the budget
    over = counts1.filter(F.col("n") > cap).collect()
    assert not over, over


def test_drain_settles_a_stateless_query_that_ended_by_itself(spark, sf_dir, tmp_path):
    """A stateless availableNow query ends on its own once its input is
    in; draining it afterwards reports the settled drain it was."""
    src = str(tmp_path / "src")
    _write_batch(spark, sf_dir, src, 0)
    q = run_pipeline_stream(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ck"), with_concat=False
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert drain_and_stop(q) is True


def test_state_partitions_fresh_and_recorded(spark, sf_dir, tmp_path):
    """A fresh checkpoint gets one state partition per task slot, whatever
    the session's shuffle partitions; the session conf is left as it was;
    a used checkpoint keeps the count its offset log recorded."""
    from go_fluentd_spark.streaming.stream_pipeline import _state_partitions

    slots = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(slots + 3))
    try:
        src = str(tmp_path / "src")
        _write_batch(spark, sf_dir, src, 0)
        q = run_pipeline_stream(spark, src, str(tmp_path / "out"), str(tmp_path / "ck"))
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(slots + 3)
        assert drain_and_stop(q)
        ops = [so for p in q.recentProgress for so in p["stateOperators"]]
        assert ops and ops[0]["numShufflePartitions"] == slots
        assert max(so["numRowsTotal"] for so in ops) <= slots

        # a checkpoint recorded under 3 shuffle partitions keeps 3
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        ck = str(tmp_path / "ck3")
        spark.readStream.schema("doc_id string").parquet(src).writeStream.format(
            "noop"
        ).option("checkpointLocation", ck).trigger(availableNow=True).start(
        ).awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert _state_partitions(spark, ck) == 3
    assert _state_partitions(spark, str(tmp_path / "none")) == slots



def test_legacy_flat_layout_refused_at_a_file_uri(spark, tmp_path):
    """The legacy-layout refusal goes through the Hadoop FileSystem API: a
    file:// out_dir whose sink directory or audit table holds flat parquet
    is refused, as a local path is."""
    import pytest

    from go_fluentd_spark.streaming.stream_pipeline import _write_batch_partition

    out = tmp_path / "out"
    df = spark.range(3).select(F.lit("t").alias("tag"), F.col("id").alias("n"))
    df.write.mode("append").parquet(str(out / "_counts"))
    df.write.mode("append").parquet(str(out / "sink=es_general"))
    with pytest.raises(ValueError, match="legacy flat"):
        _write_batch_partition(df, (out / "_counts").as_uri(), 0)
    with pytest.raises(ValueError, match="legacy flat"):
        run_pipeline_stream(
            spark, str(tmp_path / "src"), out.as_uri(), str(tmp_path / "ck"), with_concat=False
        )
