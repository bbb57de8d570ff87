"""Post-filter operators (reference internal/postfilters/)."""

from go_fluentd_spark.config import PipelineConfig
from go_fluentd_spark.operators.postfilter import post_default


def test_post_default_truncate_and_empty(spark):
    # default_f.go:54-88: truncate to max_len; empty string -> absent (NULL)
    cfg = PipelineConfig(post_max_len=5)
    df = spark.createDataFrame(
        [("abcdefghij", "", "keepme.sit")], "message string, level string, tag string"
    )
    row = post_default(df, cfg, msg_cols=["message", "level"]).collect()[0]
    assert row.message == "abcde"
    assert row.level is None
    assert row.tag == "keepme.sit"  # routing cols untouched
