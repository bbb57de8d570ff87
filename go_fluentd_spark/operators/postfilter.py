"""Post filters (reference ``internal/postfilters/``): the last field surgery
before the producer.  Chain order in the reference: Default first
(``postfilters/pipeline.go:84-126``), then per-tag plugins.  Of the per-tag
plugins only FieldsFilter is restated; the pipeline runs none of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from go_fluentd_spark.config import PipelineConfig


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
        c: F.nullif(F.substring(F.col(c), 1, cfg.post_max_len), F.lit(""))
        for c in cols
        if c not in keep
    }
    return df.withColumns(updates)


def fields_filter(
    df: DataFrame,
    tags: list[str],
    new_fields: dict[str, str] | None = None,
    include_fields: list[str] | None = None,
    exclude_fields: list[str] | None = None,
) -> DataFrame:
    """FieldsFilter (``fields.go:54-81``): add ``${var}``-templated fields,
    then whitelist-project (include wins over exclude, ``fields.go:42-52``).

    Template values support the reference's ``${field}`` substitution
    (``library/utils.go:87-117``) compiled to concat of literals and columns.
    Applies only to rows of the given tags; other rows keep their fields but
    gain NULL for any new field (declared-schema analogue of a per-row map).
    """
    import re

    applies = F.col("tag_base").isin(tags) | F.col("tag").isin(tags)
    for name, tpl in (new_fields or {}).items():
        parts = []
        pos = 0
        for m in re.finditer(r"\$\{([^}]+)\}", tpl):
            if m.start() > pos:
                parts.append(F.lit(tpl[pos : m.start()]))
            parts.append(F.coalesce(F.col(m.group(1)).cast("string"), F.lit("")))
            pos = m.end()
        if pos < len(tpl):
            parts.append(F.lit(tpl[pos:]))
        val = F.concat(*parts) if parts else F.lit(tpl)
        df = df.withColumn(name, F.when(applies, val))
    if include_fields:
        # MustIncludeFileds (library/const.go:8-17) always survive projection
        must = ["tag", "doc_id"]
        keep = set(include_fields) | set(must) | {"tag_base", "env"}
        drop = [
            c for c in df.columns if c not in keep
        ]
        for c in drop:
            df = df.withColumn(c, F.when(~applies, F.col(c)))
    elif exclude_fields:
        for c in exclude_fields:
            if c in df.columns:
                df = df.withColumn(c, F.when(~applies, F.col(c)))
    return df
