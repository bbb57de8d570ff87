"""Structured Streaming variant of the pipeline (SURVEY.md §2.10).

The reference is a streaming daemon; the batch plan in ``plans/pipeline.py``
is the primary restatement.  The stream runs a SHORTER chain than the
batch: ingest columns -> concat -> acceptor chain -> parse -> ``msgid``.
It runs no ``add_fields``, ``post_default`` or ``es_index`` (they would
add the enrich dims' broadcasts to every trigger), and its sink tables hold
no ``tokens`` or ``args_map``.  Its pieces are the batch's own
DataFrame->DataFrame functions, plus the two genuinely streaming-only ones:

- ``concat_sessions_streaming``: the multiline concator as a custom stateful
  operator (``applyInPandasWithState`` over n hash buckets of (tag,
  container_id), n = the state partitions) with the reference's flush
  rules — next-head arrival, ``max_len`` overflow, and the ``ConcatorWait``
  gap (``internal/recvs/fluentd.go:23,505``,
  ``internal/tagfilters/concator_f.go:64,91-111``) kept per session under a
  processing-time state timeout.  State persists in the checkpoint across
  restarts — the streaming twin of the WAL.
- ``run_pipeline_stream``: readStream -> that chain -> ``foreachBatch``
  sink: the batch's ``dispatcher.route`` and ``dispatcher.write_fanout``
  partitioned by ``(sink, batch_id)``, plus per-batch counts (the
  reference's per-sender batching, ``internal/senders/*``; micro-batch =
  the batch/linger window).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from functools import partial
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from go_fluentd_spark.config import CONCAT_CONFIGS, DEFAULT_CONFIG, PipelineConfig
from go_fluentd_spark.functions.sqltext import sql_in, sql_str
from go_fluentd_spark.operators.acceptor import acceptor_chain
from go_fluentd_spark.operators.dispatcher import route, write_fanout
from go_fluentd_spark.operators.enrich import msgid
from go_fluentd_spark.operators.parser import parse
from go_fluentd_spark.session import hadoop_fs, holds_parquet, list_dir, local_table
from go_fluentd_spark.sources.synth import with_ingest_columns

# query id -> cooperative-stop flag for its foreachBatch sink; set by
# drain_and_stop once the drain protocol proves the stream empty, so the
# post-settle empty batches run no jobs and stop() never interrupts an
# in-flight py4j write call (see the sink_batch comment).
_STOP_FLAGS: dict[str, threading.Event] = {}

SEQ_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("tag", T.StringType()),
        T.StructField("container_id", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("env", T.StringType()),
        T.StructField("tag_base", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_merged", T.LongType()),
        T.StructField("ext_ids", T.ArrayType(T.LongType())),
    ]
)


def read_sequence_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of tokenized sequences.  ``max_files_per_trigger``
    is the file-source throttle knob: it rate-limits intake at the source,
    the non-lossy analogue of the reference's token bucket
    (``acceptorfilters/pipeline.go:49-61``)."""
    reader = spark.readStream.schema(SEQ_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(src_dir)


_OUT_COLS = [f.name for f in _OUT_SCHEMA.fields]
_KEY = ["tag", "container_id"]
# one state group's open sessions as parallel arrays: entry i is the row
# session i flushes as, plus the processing time its key last brought rows
_STATE_SCHEMA = T.StructType(
    [T.StructField(f.name, T.ArrayType(f.dataType)) for f in _OUT_SCHEMA.fields]
    + [T.StructField("last_ms", T.ArrayType(T.LongType()))]
)
_STATE_COLS = _OUT_COLS + ["last_ms"]


def _fold_sessions(
    carried: pd.DataFrame,
    rows: pd.DataFrame,
    compiled: dict,
    max_len: int,
    max_merged: int,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The batch operator's rules (``operators/concat.py``) over carried
    open sessions ∪ new ``rows``, for every (tag, container_id) key at once;
    returns (flushed rows, sessions still open).  A carried session is a
    head at its head ``id`` that counts ``n_merged`` rows and
    ``len(source)`` chars.  Per key in ``id`` order the last head wins; a
    tail whose session already holds ``max_len`` chars or ``max_merged``
    rows is evicted to its own row and its session flushes; a tail before
    any head passes through alone (``concator_f.go:151-157``), as do
    unconfigured tags.  A key's last session stays open; the others flush.

    Late rows: a row whose ``id`` is below its key's carried head ``id``
    sorts before that head, where the batch operator over all rows puts
    it.  A late tail is a lone tail (or joins a late head), and a late
    head's session flushes at once, closed by the carried head; the
    already flushed session it would have joined is not reopened.  A row
    above the carried head ``id`` is appended at the session's end."""
    import numpy as np

    rows = rows.assign(n_merged=1, ext_ids=[[]] * len(rows))
    conf = rows["tag_base"].isin(list(compiled)).to_numpy()
    new = rows.loc[conf, _OUT_COLS]
    head = np.zeros(len(new), dtype=bool)
    for base, rx in compiled.items():
        m = (new["tag_base"] == base).to_numpy()
        if m.any():
            head[m] = new.loc[m, "source"].str.match(rx).to_numpy(dtype=bool)
    u = pd.concat([carried[_OUT_COLS], new], ignore_index=True)
    u["_head"] = np.concatenate([np.ones(len(carried), dtype=bool), head])
    u = u.sort_values(_KEY + ["id"], ignore_index=True)

    pos = np.arange(len(u))
    is_head = u["_head"].to_numpy(dtype=bool)
    tag, cid = u["tag"].to_numpy(), u["container_id"].to_numpy()
    new_key = np.ones(len(u), dtype=bool)
    new_key[1:] = (tag[1:] != tag[:-1]) | (cid[1:] != cid[:-1])
    key_start = np.maximum.accumulate(np.where(new_key, pos, 0))
    last_head = np.maximum.accumulate(np.where(is_head, pos, -1))
    in_sess = last_head >= key_start
    start = np.where(in_sess, last_head, pos)  # the row's session head
    lens = u["source"].str.len().to_numpy(dtype=np.int64)
    w = u["n_merged"].to_numpy(dtype=np.int64)
    chars, cnt = np.cumsum(lens) - lens, np.cumsum(w) - w  # before the row
    evict = (~is_head & in_sess) & (
        (chars - chars[start] >= max_len) | (cnt - cnt[start] >= max_merged)
    )
    member = ~is_head & in_sess & ~evict

    hp = np.flatnonzero(is_head)
    kid = np.cumsum(new_key)[hp]
    stays_open = np.append(kid[1:] != kid[:-1], True) & ~np.isin(hp, start[evict])
    heads = u.loc[hp, _OUT_COLS]
    if member.any():
        tails = u.loc[member, ["source", "id"]].groupby(start[member], sort=False)
        src, ids = tails["source"].agg("".join), tails["id"].agg(list)
        heads["source"] = heads["source"] + src.reindex(hp, fill_value="")
        heads["n_merged"] += ids.str.len().reindex(hp, fill_value=0)
        more = ids.reindex(hp)
        heads["ext_ids"] = [
            list(e) + x if isinstance(x, list) else e
            for e, x in zip(heads["ext_ids"], more)
        ]
    flushed = pd.concat(
        [rows.loc[~conf, _OUT_COLS], u.loc[~is_head & ~member, _OUT_COLS],
         heads[~stays_open]],
        ignore_index=True,
    )
    return flushed, heads[stays_open]


def _bucket_fold(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    *,
    compiled: dict,
    max_len: int,
    max_merged: int,
    gap_ms: int,
) -> Iterator[pd.DataFrame]:
    """The fold of one state group, i.e. of every key hashed to it: one
    pandas call per group and trigger (module level so tests can drive it
    with a fake ``GroupState``).  The state holds the group's open sessions,
    each with the ``last_ms`` its key last brought rows.  Every call, with
    rows or on a timeout, flushes the sessions of keys that bring no rows
    and sat idle for ``gap_ms`` (ConcatorWait, ``concator_f.go:91-111``),
    however busy the group's other keys are; a key's own rows reach its
    session before any timeout, as with a per-key operator.  The rest fold
    with the rows; sessions left open get ``last_ms`` = now, and the group
    timeout is the earliest remaining deadline.

    INTENTIONAL DEVIATION (ADVICE r5), shared with the batch operator:
    ``concator_f.go:197-202`` flushes the overflowing tail inside its
    session; here it is evicted to its own row, so check-before-append
    stays one running-sum window on the batch side."""
    import numpy as np

    now = state.getCurrentProcessingTimeMs()
    carried = pd.DataFrame(
        dict(zip(_STATE_COLS, state.get)) if state.exists else None,
        columns=_STATE_COLS,
    )
    chunks = [c for c in pdfs if len(c)]
    rows = pd.concat(chunks, ignore_index=True) if chunks else None
    quiet = np.ones(len(carried), dtype=bool)
    if rows is not None:  # keys that bring rows are not quiet
        busy = pd.MultiIndex.from_frame(rows[_KEY])
        quiet = ~pd.MultiIndex.from_frame(carried[_KEY]).isin(busy)
    idle = quiet & (now - carried["last_ms"].to_numpy(dtype=np.int64) >= gap_ms)
    flushed, kept = [carried.loc[idle, _OUT_COLS]], [carried[quiet & ~idle]]
    if rows is not None:
        out, still_open = _fold_sessions(
            carried[~quiet], rows, compiled, max_len, max_merged
        )
        flushed.append(out)
        kept.append(still_open.assign(last_ms=now))
    kept = pd.concat(kept, ignore_index=True)
    if len(kept):
        # plain Python lists: the JVM unpickles no numpy
        state.update(tuple(
            [v.tolist() if isinstance(v, np.ndarray) else v for v in kept[c]]
            for c in _STATE_COLS
        ))
        state.setTimeoutDuration(int(kept["last_ms"].min()) + gap_ms - now)
    elif state.exists:
        state.remove()
    yield pd.concat(flushed, ignore_index=True)


def concat_sessions_streaming(
    df: DataFrame,
    configs: dict[str, dict] | None = None,
    max_len: int = DEFAULT_CONFIG.concat_max_len,
    max_merged: int = DEFAULT_CONFIG.concat_max_merged,
    gap_ms: int = 5000,
) -> DataFrame:
    """Stateful multiline concat.  Input: ingest-column frame (streaming).
    Output rows appear when a session FLUSHES (next head / max_len / gap
    timeout), at-least-once with checkpointed state, like the reference's
    in-recv concator backed by the WAL.

    Many keys share a state group: rows group by ``pmod(xxhash64(tag,
    container_id), n)``, ``n`` = the session's shuffle partitions (which
    ``run_pipeline_stream`` sets to the state-partition count), so each
    trigger makes one pandas call per group instead of one per key.  A
    checkpoint of the old per-key operator fails Spark's state-schema
    check (STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE): use a fresh one."""
    import re

    configs = CONCAT_CONFIGS if configs is None else configs
    compiled = {base: re.compile(c["head_regexp"]) for base, c in configs.items()}
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    fold = partial(
        _bucket_fold, compiled=compiled, max_len=max_len,
        max_merged=max_merged, gap_ms=gap_ms,
    )
    return df.withColumn(
        "_bucket", F.pmod(F.xxhash64(*_KEY), F.lit(n))
    ).groupBy("_bucket").applyInPandasWithState(
        fold,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


@contextmanager
def _shuffle_partitions(spark: SparkSession, n: int):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _state_partitions(spark: SparkSession, checkpoint_dir: str) -> int:
    """The state-partition count of a query on ``checkpoint_dir``: the
    ``spark.sql.shuffle.partitions`` its offset log recorded (Spark reuses
    it on restart), else the task slots.  Read through the Hadoop
    FileSystem API, so a remote checkpoint URI works too."""
    import json

    offsets = os.path.join(checkpoint_dir, "offsets")
    found = list_dir(spark, offsets)
    batches = [int(n) for n in (f.getPath().getName() for f in found) if n.isdigit()]
    if not batches:
        return spark.sparkContext.defaultParallelism
    # offsets/0 until Spark purges it; every offset file records the conf
    fs, first = hadoop_fs(spark, os.path.join(offsets, str(min(batches))))
    stream = fs.open(first)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    conf = json.loads(text.split("\n")[1])["conf"]  # line 0: log version
    return int(conf["spark.sql.shuffle.partitions"])


def shed_overload(
    batch_df: DataFrame, max_per_tag: int, order_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """LOSSY drop-on-overload — the reference's full-queue message drop
    (``acceptorfilters/pipeline.go:170-180``: a message that cannot enqueue
    within the timeout is discarded and counted), restated per micro-batch:
    each TAG (one queue per tag in the reference) keeps at most
    ``max_per_tag`` rows per trigger; the excess is SHED deterministically
    (lowest ``order_col`` kept — the oldest-first queue drain) and returned
    as an audit frame instead of a log line.

    Scale shape: one rank window partitioned by tag — bounded sort groups,
    no global ordering; the shed audit is a partial-agg count.  Returns
    ``(kept, shed_counts)`` where ``shed_counts`` is ``(tag, n_shed)``."""
    w = Window.partitionBy("tag").orderBy(order_col)
    ranked = batch_df.withColumn("_rk", F.row_number().over(w))
    kept = ranked.filter(F.col("_rk") <= max_per_tag).drop("_rk")
    shed = (
        ranked.filter(F.col("_rk") > max_per_tag)
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n_shed"))
    )
    return kept, shed


def _refuse_flat_layout(spark: SparkSession, path: str) -> None:
    if holds_parquet(spark, path):
        raise ValueError(
            f"{path} holds a legacy flat (unpartitioned) parquet layout; "
            "use a fresh out_dir — per-batch idempotent writes partition "
            "by batch_id"
        )


def _write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent per-batch write under at-least-once ``foreachBatch``: the
    batch's rows land in a ``batch_id=<n>`` partition via dynamic partition
    overwrite, so a RETRIED micro-batch replaces its own partition instead
    of double-appending (journal dedup semantics, ``journal.go:41,58``).

    Refuses a legacy flat layout: an ``out_dir`` written by the pre-round-5
    ``mode("append")`` path holds unpartitioned files at the table root, and
    mixing those with ``batch_id=N`` dirs makes the directory unreadable as
    one table — resume on an upgraded layout requires a fresh out_dir.
    The check goes through the Hadoop FileSystem API, so it holds for an
    ``out_dir`` URI (``file://``, ``hdfs://``) too."""
    _refuse_flat_layout(df.sparkSession, path)
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def drain_and_stop(
    q, timeout_s: float = 120.0, poll_s: float = 0.25, settle_batches: int = 2
) -> bool:
    """Drain an ``availableNow`` pipeline query and stop it.

    With a processing-time-timeout stateful operator in the plan (the
    concator), Spark considers EVERY batch to potentially fire timeouts
    (``shouldRunAnotherBatch`` is unconditionally true for
    ProcessingTimeTimeout), so an availableNow query never self-terminates:
    it loops empty micro-batches forever, ``awaitTermination`` blocks, and —
    measured here — ``processAllAvailable`` never returns either.  The
    working shutdown is to watch committed batch progress: once
    ``settle_batches`` CONSECUTIVE batches commit with zero input rows AND
    an empty state store (every open concat session hit its ConcatorWait gap
    timeout, flushed, and was removed), everything the source had is in the
    sinks and the query is safe to ``stop()``.

    Stateless availableNow pipelines (``with_concat=False``) self-terminate;
    for those the ``q.isActive`` guard exits immediately, and the drain
    counts as settled when the query ended with no exception and no source
    reports input past its last committed offset.  ``timeout_s`` is
    an IDLE deadline, not a whole-run cap (ADVICE r5): every committed
    batch that still carries input rows resets it, so a long backlog drains
    however long it takes while a genuinely stuck stream still times out.
    It must exceed the concat gap (default 5 s).

    Returns ``True`` when the drain SETTLED (all input provably processed
    and the state store empty) — ``False`` means the idle deadline fired
    first and the run may have been truncated; callers that promise "all
    input processed" (the CLI ``stream`` command) must surface that."""
    import time

    deadline = time.monotonic() + timeout_s
    last_batch, streak, settled = -1, 0, False
    while q.isActive and time.monotonic() < deadline:
        p = q.lastProgress
        if p is not None and p.get("batchId", -1) != last_batch:
            last_batch = p.get("batchId", -1)
            state_empty = all(
                so.get("numRowsTotal", 0) == 0
                for so in p.get("stateOperators", [])
            )
            if p.get("numInputRows", 0) == 0 and state_empty:
                streak += 1
                if streak >= settle_batches:
                    settled = True
                    break
            else:
                streak = 0
                # forward progress: a batch with input rows (or residual
                # state) committed — push the idle deadline out instead of
                # force-stopping a healthy drain of a long backlog
                deadline = time.monotonic() + timeout_s
        time.sleep(poll_s)
    if not settled and not q.isActive:
        # a file source reports no latest offset (the string "None")
        sources = (q.lastProgress or {}).get("sources", [])
        settled = q.exception() is None and all(
            so.get("latestOffset") in (None, "None", so.get("endOffset"))
            for so in sources
        )
    # cooperative stop — ONLY on the settled path (every remaining batch is
    # provably empty): flag the foreachBatch sink down to its count()-only
    # form (full state execution, no writes — see the sink_batch comment
    # for why both lighter variants corrupt the checkpoint), give the
    # in-flight full batch a beat to commit, then interrupt.  Wherever the
    # interrupt lands the checkpoint stays consistent: a cancelled count
    # RAISES, failing its batch before the commit log is written.  The
    # possible terminal exception (cancelled empty batch) is harmless noise
    # by construction — every source row was committed batches ago and the
    # state store is empty — so it is tolerated on the settled path only.
    ev = _STOP_FLAGS.pop(str(q.id), None)
    if not settled:
        if q.isActive:
            q.stop()
        q.awaitTermination(60)
        return False
    if ev is not None and q.isActive:
        ev.set()
        time.sleep(max(poll_s, 1.0))
    try:
        if q.isActive:
            q.stop()
        q.awaitTermination(60)
    except Exception:  # noqa: BLE001
        pass
    return True


def _observe_tag_counts(
    batch_df: DataFrame, cfg: PipelineConfig, batch_id: int
) -> tuple[DataFrame, Observation]:
    """``batch_df`` with its per-tag row counts observed: one ``count_if``
    per accepted tag (``t<i>``) and ``other`` for a tag outside them, read
    from the returned Observation after the frame's first action."""
    obs = Observation(f"counts-{batch_id}")
    counts = [
        F.expr(f"count_if((tag = {sql_str(t)})) AS t{i}") for i, t in enumerate(cfg.accept_tags)
    ]
    other = F.expr(f"count_if((NOT {sql_in('tag', cfg.accept_tags)})) AS other")
    return batch_df.observe(obs, *counts, other), obs


def run_pipeline_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    with_concat: bool = True,
    max_files_per_trigger: int | None = None,
    shed_max_per_tag: int | None = None,
):
    """readStream -> (stateful concat) -> stateless chain -> foreachBatch
    sink fan-out + counts.  Returns the StreamingQuery (caller triggers
    availableNow or continuous).  ``max_files_per_trigger`` throttles intake
    at the source (see read_sequence_stream); ``shed_max_per_tag`` arms the
    LOSSY drop-on-overload path (see shed_overload) — shed rows land in the
    ``_shed`` audit table, mirroring the reference's drop counter."""
    # refuse a legacy layout where a sink dir holds flat (un-batch_id-
    # partitioned) parquet — same rule _write_batch_partition applies to
    # _counts/_shed, checked once here for the unified sink table
    for f in list_dir(spark, out_dir, "sink=*"):
        if f.isDirectory():
            _refuse_flat_layout(spark, f.getPath().toString())
    df = with_ingest_columns(
        read_sequence_stream(spark, src_dir, max_files_per_trigger)
    )
    # state partitions = concat state groups = the task slots (or what a
    # restart's checkpoint recorded), set only to build and start the query
    n_state = _state_partitions(spark, checkpoint_dir)
    if with_concat:
        with _shuffle_partitions(spark, n_state):
            df = concat_sessions_streaming(df)
    df = acceptor_chain(df, cfg)
    # the sinks do not write tokens: drop them before the map-in parse,
    # which would otherwise carry them through Python
    df = parse(df.drop("tokens"), cfg)
    df = msgid(df, cfg)

    stop_event = threading.Event()

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        # cooperative stop (see drain_and_stop): once the drain protocol has
        # proven the stream empty (consecutive committed zero-input batches
        # with an empty state store), it sets this flag so the endless
        # post-settle empty batches run NO jobs — q.stop()'s interrupt then
        # lands between py4j calls instead of inside an in-flight write.
        # (Stopping mid-write is what tripped SPARK's own
        # StreamExecution.isInterruptionException: its interrupt-detection
        # regex recurses over the py4j error MESSAGE, and a long traceback
        # string blows the stream-execution thread's stack —
        # java.util.regex StackOverflowError, observed 3x at sf0.1.)  Only
        # provably-empty batches skip the persist + write jobs: the flag is
        # set strictly after the settle condition, when the availableNow
        # source is exhausted and the concat state fully flushed.  The
        # count() is NOT optional and must NOT swallow errors — both were
        # tried and are UNSOUND, because Spark 4.1 writes the batch commit
        # log BEFORE the state-store commit validation runs:
        # - return-without-jobs => the batch commits with ZERO state deltas
        #   (validation kills the query only afterwards) => restart dies
        #   with CANNOT_READ_DELTA_FILE_NOT_EXISTS;
        # - count()+swallow => a stop()-cancelled count returns success
        #   over PARTIAL per-partition deltas, same checkpoint corruption.
        # A full count() executes every state partition (commit validation
        # passes, the batch commits consistently), and if the drain's
        # q.stop() cancels it mid-flight the raise fails the batch, so it
        # never commits and a restart replays it — consistent either way.
        if stop_event.is_set():
            batch_df.count()
            return
        batch_df = batch_df.drop("args_map").withColumn("batch_id", F.lit(batch_id))
        # every write below is idempotent per batch (foreachBatch is
        # at-least-once: a retry re-delivers the same batch_id, and dynamic
        # partition overwrite replaces that batch's partition instead of
        # double-appending) — the _shed audit, the unified sink table, AND
        # _counts
        if shed_max_per_tag is not None:
            # the shed path consumes the batch twice (kept + shed audit):
            # persist pays for itself there, and _counts piggybacks on the
            # cached frame exactly as before
            batch_df, shed = shed_overload(batch_df, shed_max_per_tag)
            _write_batch_partition(shed, os.path.join(out_dir, "_shed"), batch_id)
            batch_df = batch_df.persist()
            try:
                write_fanout(route(spark, batch_df, cfg), cfg, out_dir, "batch_id")
                counts = batch_df.groupBy("tag").agg(
                    F.count(F.lit(1)).alias("n")
                )
                _write_batch_partition(
                    counts, os.path.join(out_dir, "_counts"), batch_id
                )
            finally:
                # blocking: consecutive EMPTY batches have identical logical
                # plans, so with the default async unpersist batch N+1's
                # first action can hit batch N's not-yet-dropped cache
                # entry, execute ZERO stateful tasks, and flunk Spark 4's
                # state-store commit validation ("expected K commits but
                # got 0") — a flaky query death observed ~25% of drains.
                batch_df.unpersist(blocking=True)
            return
        # Round 6 (VERDICT r5 #5 — micro-batch fixed cost): the non-shed
        # path runs ONE job per micro-batch instead of persist + fan-out
        # write + a second counts aggregation job.  Per-tag counts ride the
        # write job as a CollectMetrics (Observation) node placed BEFORE
        # the sink explode (so no-sink rows still count, exactly like the
        # old pre-fan-out groupBy); the acceptor whitelist bounds the tag
        # domain to cfg.accept_tags, so one count_if per accepted tag is
        # exhaustive.  A defensive residual counter guards the invariant:
        # if any row carries an out-of-whitelist tag (a future operator
        # change), that batch falls back to the old groupBy job rather
        # than under-counting.  The _counts table layout, values, and
        # per-batch_id idempotent overwrite are unchanged.
        observed, obs = _observe_tag_counts(batch_df, cfg, batch_id)
        write_fanout(route(spark, observed, cfg), cfg, out_dir, "batch_id")
        got = obs.get
        spark_b = batch_df.sparkSession
        if got["other"]:
            counts = batch_df.groupBy("tag").agg(F.count(F.lit(1)).alias("n"))
        else:
            rows = [
                (t, got[f"t{i}"])
                for i, t in enumerate(cfg.accept_tags)
                if got[f"t{i}"]
            ]
            counts = local_table(spark_b, rows, "tag string, n bigint")
        _write_batch_partition(counts, os.path.join(out_dir, "_counts"), batch_id)

    with _shuffle_partitions(spark, n_state):
        q = (
            df.writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    _STOP_FLAGS[str(q.id)] = stop_event
    return q
