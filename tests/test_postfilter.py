"""Post-filter operators (reference internal/postfilters/)."""

from pyspark.sql import functions as F

from go_fluentd_spark.config import DEFAULT_CONFIG, PipelineConfig
from go_fluentd_spark.operators.postfilter import (
    fields_filter,
    post_default,
)


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


def test_fields_filter_template_and_include(spark):
    # fields.go:54-81 + settings.yml:682-705: location = "${lat},${lon}",
    # include-list projection NULLs everything else for matching tags
    df = spark.createDataFrame(
        [("bigdata-wuling.sit", "bigdata-wuling", "31.2", "121.5", "m", "noise")],
        "tag string, tag_base string, lat string, lon string, message string, extra string",
    )
    out = fields_filter(
        df,
        tags=["bigdata-wuling"],
        new_fields={"location": "${lat},${lon}"},
        include_fields=["lat", "lon", "location", "message"],
    ).collect()[0]
    assert out.location == "31.2,121.5"
    assert out.extra is None  # excluded by include-list
    assert out.message == "m"
