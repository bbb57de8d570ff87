"""Post filters (reference ``internal/postfilters/``): the last field surgery
before the producer.  Chain order in the reference: Default first
(``postfilters/pipeline.go:84-126``), then per-tag plugins.  Of the per-tag
plugins only FieldsFilter's include list is restated, at the sink write
(``operators/dispatcher.py::write_fanout``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from go_fluentd_spark.config import PipelineConfig
from go_fluentd_spark.functions.sqltext import ident, with_sql


def post_default(df: DataFrame, cfg: PipelineConfig, msg_cols: list[str] | None = None) -> DataFrame:
    """Post DefaultFilter (``default_f.go:54-88``): delete empty-string keys
    (=> NULL in a declared schema), rename '.'-keys to '__' (schema-level —
    our columns already follow the convention), truncate string fields to
    max_len (settings.yml:671)."""
    cols = msg_cols or [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    # identity/routing columns are not message fields; never touch them
    keep = {"doc_id", "tag", "tag_base", "env", "container_id", "sink"}
    updates = {
        c: f"nullif(substring({ident(c)}, 1, {int(cfg.post_max_len)}), '')"
        for c in cols
        if c not in keep
    }
    return with_sql(df, updates)
