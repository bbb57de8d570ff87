"""Plan-build cost: JVM round trips the driver makes to BUILD the plans of
a fresh run, before any task runs.  Every Python Column node and every
chained ``withColumn`` is at least one py4j command; the builders write
constant-heavy expressions as SQL text, one projection per layer, so a
build stays a small, fixed number of commands.  The bounds are a quarter
of what the Column-tree builders took (P.routed 2,960, one stream
trigger's write-frame build 1,136) and, for a whole fresh manifested run,
a third of its 3,556."""

import contextlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from go_fluentd_spark.config import DEFAULT_CONFIG
from go_fluentd_spark.operators.dispatcher import route, write_fanout
from go_fluentd_spark.plans import pipeline as P
from go_fluentd_spark.plans.manifest import ManifestedRun
from go_fluentd_spark.streaming.stream_pipeline import _observe_tag_counts


@pytest.fixture
def commands(spark, monkeypatch):
    """A context manager counting the py4j commands sent inside it, object
    deletes (``m\\nd\\n``, sent when Python drops a JVM reference) left
    out."""
    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command
    seen = []

    def counting(self, command, *a, **k):
        if not command.startswith("m\nd\n"):
            seen.append(command)
        return send(self, command, *a, **k)

    monkeypatch.setattr(client, "send_command", counting)

    @contextlib.contextmanager
    def count():
        box = [len(seen)]
        yield box
        box[0] = len(seen) - box[0]

    return count


def test_routed_plan_build_commands(spark, sf_dir, commands):
    P.routed(spark, sf_dir)  # first build in the JVM: one-time lookups
    with commands() as n:
        P.routed(spark, sf_dir)
    assert n[0] <= 740, n[0]


def test_fresh_manifested_run_commands(spark, sf_dir, tmp_path, commands):
    ManifestedRun(spark, str(tmp_path / "warm"), n_buckets=8).run(sf_dir)
    with commands() as n:
        ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8).run(sf_dir)
    assert n[0] <= 1200, n[0]


def test_stream_trigger_write_frame_commands(spark, sf_dir, commands, monkeypatch):
    """What ``sink_batch`` builds per trigger before its one write job: the
    per-tag count observation, the routing and the FieldsFilter."""
    cfg = DEFAULT_CONFIG
    batch = P.parsed(spark, sf_dir).drop("tokens")
    batch.columns  # the stream hands sink_batch a resolved frame
    monkeypatch.setattr(DataFrameWriter, "parquet", lambda self, path, *a, **k: None)

    def build(batch_id):
        batch_df = batch.drop("args_map").withColumn("batch_id", F.lit(batch_id))
        observed, _ = _observe_tag_counts(batch_df, cfg, batch_id)
        write_fanout(route(spark, observed, cfg), cfg, "unused", "batch_id")

    build(0)
    with commands() as n:
        build(1)
    assert n[0] <= 284, n[0]
