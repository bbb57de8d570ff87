"""Unit tests for the receiver-side operators (operators/recv.py) — the
oracle queries cover them at corpus scale; these pin the per-rule semantics
on hand-built rows."""

import hashlib

from pyspark.sql import functions as F

from go_fluentd_spark.operators.recv import http_ingest, kafka_json_decode

SALT = "unit-salt"


def _sig(ts: str) -> str:
    return hashlib.md5((ts + SALT).encode()).hexdigest()


def test_http_ingest_full_source_path(spark):
    """http.go:163-212: validate -> JSON body decode -> FlattenMap -> tag
    stamp; bad signature and non-JSON bodies are DISCARDED."""
    ts = "2024-01-02T03:04:05"
    rows = [
        (1, ts, _sig(ts), '{"a": "1", "b": {"c": "2"}}'),   # good, nested
        (2, ts, "badsig", '{"a": "1"}'),                    # sig fails
        (3, ts, _sig(ts), "not json"),                      # body undecodable
        (4, "nope", _sig("nope"), '{"a": "1"}'),            # ts format fails
    ]
    df = spark.createDataFrame(
        rows, "event_id int, ts_str string, sig string, body string"
    )
    out = http_ingest(df, env="sit", tag="httprecv", salt=SALT).collect()
    assert [r.event_id for r in out] == [1]
    assert out[0].tag == "httprecv.sit"
    assert out[0].msg == {"a": "1", "b__c": "2"}


def test_kafka_rewrite_tag(spark):
    # kafka.go RewriteTag option: force-overwrites the tag regardless of payload
    df = spark.createDataFrame(
        [(b'{"tag": "orig.sit", "k": "v"}',)], "value binary"
    )
    out = kafka_json_decode(df, rewrite_tag="forced.prod").collect()[0]
    assert out.tag == "forced.prod"
