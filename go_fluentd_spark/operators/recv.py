"""Receiver-side row validation/transforms (reference ``internal/recvs/``).

Network listening is out of scope (the source *scan* is the table scan,
SURVEY.md §2.1); what remains computationally are the per-row validation and
normalization rules, restated as Column predicates:

- HTTPRecv (``internal/recvs/http.go:54-212``): body-size cap, signature
  check ``md5(ts + salt) == sig``, timestamp-window check
  ``now-delay <= ts <= now+ahead``, ts-format regex.
- RsyslogRecv (``internal/recvs/rsyslog.go:54-157``): TimeShift, reformat to
  new_time_format, ``msg_key`` -> ``message`` rename, fixed tag.
- KafkaRecv JSON mode (``internal/recvs/kafka.go:209-252``): JSON-decode the
  body into columns vs stash raw bytes under ``msg_key``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def http_validate(
    df: DataFrame,
    ts_col: str = "ts_str",
    sig_col: str = "sig",
    salt: str = "graft-salt",
    not_before: str | None = None,
    not_after: str | None = None,
    ts_regexp: str = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}",
    max_body: int | None = None,
    body_col: str = "body",
) -> DataFrame:
    """HTTPRecv validation (``http.go:87-153``): keep only rows whose
    signature, timestamp window, ts format (and optionally body size) pass.
    The reference compares against wall-clock now; batch uses explicit
    window bounds so the predicate is deterministic and testable."""
    ok: Column = F.md5(F.concat(F.col(ts_col), F.lit(salt))) == F.col(sig_col)
    ok = ok & F.col(ts_col).rlike(ts_regexp)
    if not_before is not None:
        ok = ok & (F.col(ts_col) >= not_before)
    if not_after is not None:
        ok = ok & (F.col(ts_col) <= not_after)
    if max_body is not None:
        ok = ok & (F.length(F.col(body_col)) <= max_body)
    return df.filter(ok)


def http_ingest(
    df: DataFrame,
    env: str = "sit",
    tag: str = "httprecv",
    body_col: str = "body",
    **validate_kwargs,
) -> DataFrame:
    """HTTPRecv FULL source path (``internal/recvs/http.go:163-212``):
    validate the request (:func:`http_validate`), JSON-decode the body into
    the message map, FlattenMap nested objects to ``a__b`` keys
    (``http.go:206`` calls the same FlattenMap as the parser), DISCARD
    undecodable bodies (``http.go:174-178`` rejects non-JSON), and stamp the
    tag as ``{tag}.{env}`` (the reference parses env + tag out of the URL
    path, ``http.go:163-170``).  Feeds :func:`union_sources` like any other
    receiver."""
    from go_fluentd_spark.functions.sqltext import ident
    from go_fluentd_spark.functions.textops import flatten_json_map

    v = http_validate(df, body_col=body_col, **validate_kwargs)
    return (
        v.withColumn("msg", F.expr(flatten_json_map(ident(body_col))))
        .filter(F.col("msg").isNotNull())
        .withColumn("tag", F.lit(f"{tag}.{env}"))
    )


def rsyslog_normalize(
    df: DataFrame,
    time_col: str = "timestamp",
    shift_hours: int = 0,
    new_time_format: str = "yyyy-MM-dd'T'HH:mm:ss'Z'",
    msg_key: str = "content",
    tag: str = "emqtt.sit",
) -> DataFrame:
    """RsyslogRecv transforms (``rsyslog.go:122-146``): shift time, reformat,
    rename msg_key -> message, stamp the fixed tag."""
    shifted = F.col(time_col) + F.expr(f"INTERVAL {shift_hours} HOURS")
    return (
        df.withColumn("@timestamp", F.date_format(shifted, new_time_format))
        .withColumnRenamed(msg_key, "message")
        .withColumn("tag", F.lit(tag))
    )


def kafka_json_decode(
    df: DataFrame,
    value_col: str = "value",
    schema: str = "map<string,string>",
    is_json_format: bool = True,
    msg_key: str = "log",
    tag_key: str | None = "tag",
    default_tag: str = "kafkabuf.sit",
    rewrite_tag: str | None = None,
) -> DataFrame:
    """KafkaRecv parse (``kafka.go:209-252``): JSON-decode the message body
    into a map column (declared-schema overflow), or stash the raw body
    under ``msg_key``; tag from the JSON's tag key when present.
    ``rewrite_tag`` (kafka.go's RewriteTag option) force-overwrites the tag
    regardless of the payload."""
    if is_json_format:
        m = F.from_json(F.col(value_col).cast("string"), schema)
        df = df.withColumn("msg", m)
        tag = (
            F.coalesce(F.try_element_at(F.col("msg"), F.lit(tag_key)), F.lit(default_tag))
            if tag_key
            else F.lit(default_tag)
        )
        df = df.withColumn("tag", tag)
    else:
        df = df.withColumn(msg_key, F.col(value_col).cast("string")).withColumn(
            "tag", F.lit(default_tag)
        )
    if rewrite_tag is not None:
        df = df.withColumn("tag", F.lit(rewrite_tag))
    return df


def es_dispatch_retag(df: DataFrame, retag_map: dict[str, str]) -> DataFrame:
    """ESDispatcherFilter (``internal/postfilters/es_sender_dispatcher.go:51-73``):
    rewrite tag through a static map; unmapped or empty tags are DISCARDED.
    Compiled to a when-chain (broadcast join for big maps)."""
    chain = None
    for old, new in retag_map.items():
        cond = F.col("tag") == old
        chain = F.when(cond, F.lit(new)) if chain is None else chain.when(cond, F.lit(new))
    df = df.withColumn("tag", chain)  # otherwise -> NULL
    return df.filter(F.col("tag").isNotNull())
