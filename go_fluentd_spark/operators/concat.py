"""Multiline concat sessionization (reference
``internal/tagfilters/concator_f.go:50-207`` + in-recv variant
``internal/recvs/fluentd.go:399-544``).

Reference semantics: per (tag, identifier) stream, a row matching the tag's
``head_regexp`` starts a record; non-matching rows are APPENDED to the open
head with no separator (``concator_f.go:188-189``), their ids pushed into the
head's ``ExtIds`` (``:190-193``); a non-head row with no open session passes
through unchanged (``:151-157``); a session flushes when the next head
arrives, the buffer exceeds ``max_len`` (``:197-202``), or (streaming only) a
gap timeout fires.

Batch restatement — the classic "last head wins" sessionization, one shuffle:

    grp = max(id) FILTER (is_head) OVER (PARTITION BY tag, identifier
                                         ORDER BY id ROWS UNBOUNDED PRECEDING)

then group by (tag, identifier, grp).  Order within a group is the monotonic
receive ``id`` (batch's definition of arrival order, SURVEY.md §7).

Scale note: the shuffle key is (tag, identifier) — identifier is a
container/pod id with high cardinality, so the window shuffle spreads evenly
even when one tag dominates (the hot-tag-skew reality of
``docs/quickstart.md:122-127``); no salting needed HERE because the window
partitions by identifier, not tag.  AQE handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from go_fluentd_spark.config import CONCAT_CONFIGS, CONCAT_MAX_MERGED
from go_fluentd_spark.functions.sqltext import sql_str


def _head_expr(configs: dict[str, dict]) -> str:
    """is_head CASE over tag bases; NULL (=> not configured) otherwise."""
    whens = " ".join(
        f"WHEN (tag_base = {sql_str(base)}) THEN source RLIKE {sql_str(c['head_regexp'])}"
        for base, c in configs.items()
    )
    return f"CASE {whens} END"


def concat_sessions(
    df: DataFrame,
    configs: dict[str, dict] | None = None,
    max_len: int | None = None,
    max_merged: int | None = CONCAT_MAX_MERGED,
) -> DataFrame:
    """Fold multiline records.  Input needs columns
    (doc_id, tokens, n_tok, source, tag, tag_base, env, container_id, id);
    output has the same columns plus ``ext_ids`` (lineage of merged tails,
    array<bigint>) and ``n_merged``, with tail rows folded into their heads.

    Tags with no concat config pass through untouched (grp = own id).
    ``max_len``: once the accumulated buffer would exceed it, the session is
    flushed and subsequent tails pass through alone (``concator_f.go:197-202``
    + ``:151-157``).  ``max_merged`` additionally bounds the session's ROW
    count (an at-scale guard: max_len bounds chars, not the number of
    near-empty tails one group's collect_list can accumulate in one task).
    """
    configs = CONCAT_CONFIGS if configs is None else configs
    # NULL for unconfigured tags
    df = df.withColumn("_is_head", F.expr(_head_expr(configs)))

    # last head id at-or-before this row; NULL if no head yet (lone tail)
    w = "PARTITION BY tag, container_id ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    grp = f"max(CASE WHEN _is_head THEN id END) OVER ({w})"
    df = df.withColumn(
        "_grp", F.expr(f"CASE WHEN (_is_head IS NULL) THEN id ELSE coalesce({grp}, id) END")
    )

    if max_len is not None or max_merged is not None:
        # running buffer size within the candidate group; a tail whose
        # predecessors already filled the buffer (chars or rows) is evicted
        # to its own group
        wg = (
            "PARTITION BY tag, container_id, _grp ORDER BY id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
        )
        evict = "false"
        if max_len is not None:
            evict = f"({evict} OR (coalesce(sum(length(source)) OVER ({wg}), 0) >= {int(max_len)}))"
        if max_merged is not None:
            evict = f"({evict} OR (count(1) OVER ({wg}) >= {int(max_merged)}))"
        df = df.withColumn("_grp", F.expr(f"CASE WHEN {evict} THEN id ELSE _grp END"))

    aggs = [
        "min(id) AS id",
        *(f"min_by({c}, id) AS {c}" for c in ("doc_id", "tokens", "n_tok", "env", "tag_base")),
        # append with NO separator, in id order (concator_f.go:188-189)
        "array_sort(collect_list(struct(id, source))) AS _parts",
        "count(1) AS n_merged",
    ]
    return (
        df.groupBy("tag", "container_id", "_grp")
        .agg(*map(F.expr, aggs))
        .selectExpr(
            "tag", "container_id", "id", "doc_id", "tokens", "n_tok", "env", "tag_base",
            "n_merged",
            "concat_ws('', transform(_parts, p -> p.source)) AS source",
            # ExtIds: ids of the folded tail rows (concator_f.go:190-193)
            "filter(transform(_parts, p -> p.id), i -> (NOT (i = id))) AS ext_ids",
        )
    )
