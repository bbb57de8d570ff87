"""Durability & resume: the journal/WAL analogue (reference
``internal/controller/journal.go`` + commit collector ``producer.go:161-220``).

The reference's guarantees restated for batch (SURVEY.md §2.3):

- *at-least-once + dedup* -> idempotent bucket-grained writes: the source is
  hash-bucketed on ``pmod(xxhash64(doc_id), n_buckets)`` (the WAL's per-tag
  sharding, generalized), each bucket's per-sink output is a parquet
  partition directory, and a bucket is COMMITTED only after every sink's
  write succeeded (the reference commits a msg only when *all* senders for
  its tag succeeded, ``producer.go:161-220``).
- *fan-out* -> the producer sends each message to every sender whose tag
  set holds its tag (``producer.go:223-329``).  Here every pending sink is
  written by ONE job per attempt, straight from the routed plan:
  ``dispatcher.write_fanout`` partitioned by ``(sink, bucket)`` into
  ``out_dir``, FieldsFilter applied, so each sink's table is
  ``out_dir/sink=<name>/`` with one ``bucket=<b>`` directory per bucket.
  One deviation: a real error from that write fails the attempt for every
  sink in it, where the reference's senders fail one by one.  Every sink
  here is a directory on the same filesystem, so what fails one sink's
  files fails the others' too.
- *replay of uncommitted* -> the manifest is read first and committed
  buckets are dropped before any processing, as ``ProcessLegacyMsg``
  (``journal.go:210-307``) drops ids in the committed-id window
  (``journal.go:41,58``): a rerun whose buckets are all resolved returns
  after that one read, without planning the pipeline; otherwise only the
  remaining buckets are recomputed.  Rewriting a bucket's partition
  directories is idempotent (dynamic partition overwrite), so a crash
  between data write and manifest commit never duplicates.
- *per-partition lineage + metrics* -> each manifest row records
  (run_id, bucket, sink, rows, state, input signature), mirroring the
  per-tag counters the ``/monitor`` endpoint exposes
  (``internal/monitor/monitor.go:19-42``).  Every bucket of the input
  commits, one row per sink; a bucket no row hashed to is trivially
  delivered and commits with ``rows=0``.  The per-(sink, bucket) counts
  are read back from the written partitions; that read selects partition
  columns only, with their schema given, so it reads parquet footers, not
  rows, and runs no schema-inference job.

Manifest layout.  The reference bounds its committed-id window per tag; the
manifest is bounded per input the same way: each commit appends one parquet
file to ``_manifest/input=<key>/``, where ``<key>`` is the first 16 hex
characters of the sha256 of the input signature.  The resume check lists
and reads only that directory, so its cost grows with this input's commits
(at most ``n_buckets * n_sinks * attempts`` rows), not with the history of
every input the ``out_dir`` has seen.  It is one scan stage selecting the
resolved ``(bucket, sink)`` pairs; the all-sinks test runs on the driver.
Rows keep their ``input_sig`` column and the check filters on it, so two
signatures sharing a key cannot resolve each other's buckets.

The input signature (``ManifestedRun.input_sig``) is the Hadoop-qualified
input path plus ``#b<n_buckets>``: ``/d/in`` and ``file:///d/in`` share one
signature, and a relative path resolves the way Spark's read of it does,
not against the Python working directory.  Replacing the files under the
same path is not detected: a rerun on changed input skips every bucket the
old input committed.

Manifests written before this layout hold flat files at the ``_manifest/``
root, keyed by an ``os.path.abspath`` signature.  The resume check ignores
them, so the first run on such an ``out_dir`` recomputes every bucket once
and commits under the new layout; dynamic overwrite makes that recompute
idempotent.  ``manifest()`` and ``stats()`` still read every row, old and
new.

The manifest listing and the discard cleanup go through the Hadoop
FileSystem API (``session.hadoop_fs``), so an ``out_dir`` URI (``file://``,
``hdfs://``) resumes and discards like a local path.

At 10^12-row scale ``n_buckets`` is the resume granule: thousands of buckets
keep re-work per failure small while the manifest table stays tiny.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_fluentd_spark.config import DEFAULT_CONFIG, PipelineConfig
from go_fluentd_spark.functions.sqltext import sql_in, sql_str
from go_fluentd_spark.operators.dispatcher import write_fanout
from go_fluentd_spark.plans import pipeline as P
from go_fluentd_spark.session import hadoop_fs, holds_parquet, local_table

MANIFEST_SCHEMA = (
    "run_id string, input_sig string, bucket int, sink string, "
    "rows bigint, attempts int, state string, committed_at double"
)

#: write attempts per sink before the drop-vs-retry policy decides
#: (the reference's 3-retries-then-failchan, elasticsearch.go:286-316)
MAX_SINK_RETRIES = 3


class ManifestedRun:
    """One resumable pipeline run writing per-sink bucket-partitioned tables
    under ``out_dir`` with a manifest table for commit state."""

    def __init__(self, spark: SparkSession, out_dir: str, n_buckets: int = 32):
        self.spark = spark
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.manifest_dir = os.path.join(out_dir, "_manifest")

    def input_sig(self, sf_dir: str) -> str:
        """The input signature: the Hadoop-qualified input path plus the
        bucket count, so a path and its ``file://`` URI share one and the
        Python working directory does not enter it."""
        return f"{hadoop_fs(self.spark, sf_dir)[1].toString()}#b{self.n_buckets}"

    def input_manifest_dir(self, input_sig: str) -> str:
        """``_manifest/input=<key>/``: the commits of one input signature."""
        key = hashlib.sha256(input_sig.encode()).hexdigest()[:16]
        return os.path.join(self.manifest_dir, f"input={key}")

    # -- manifest table ----------------------------------------------------
    def manifest(self) -> DataFrame:
        """Every manifest row: every input's, and the flat files of the
        layout before per-input directories."""
        fs, path = hadoop_fs(self.spark, self.manifest_dir)
        if not fs.exists(path):
            return local_table(self.spark, [], MANIFEST_SCHEMA)
        return (
            self.spark.read.schema(MANIFEST_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(self.manifest_dir)
        )

    def committed_buckets(self, input_sig: str, sinks: list[str]) -> list[int]:
        """Buckets where EVERY one of ``sinks`` RESOLVED (commit-collector
        rule, producer.go:161-220): 'committed' = delivered; 'discarded' =
        the sink's is_discard_when_blocked dropped the batch after retries —
        the reference marks the message committed either way, the loss is
        visible only in the audit row.  The test is by sink name, not by
        count, so a renamed or added sink leaves the bucket to do.  Reads
        only this input's manifest directory: one scan stage, the all-sinks
        test on the driver."""
        path = self.input_manifest_dir(input_sig)
        if not holds_parquet(self.spark, path):
            return []  # no commit of this input: no Spark job
        resolved: dict[int, set[str]] = {}
        for bucket, sink in (
            self.spark.read.schema(MANIFEST_SCHEMA)
            .parquet(path)
            .filter(
                f"((input_sig = {sql_str(input_sig)}) AND "
                f"{sql_in('state', ['committed', 'discarded'])})"
            )
            .select("bucket", "sink")
            .collect()
        ):
            resolved.setdefault(bucket, set()).add(sink)
        want = set(sinks)
        return sorted(b for b, s in resolved.items() if want <= s)

    # -- run ---------------------------------------------------------------
    def run(
        self,
        sf_dir: str,
        cfg: PipelineConfig = DEFAULT_CONFIG,
        run_id: str | None = None,
        fail_after_sinks: int | None = None,
        with_monitor: bool = False,
        max_retries: int = MAX_SINK_RETRIES,
        sink_faults: dict | None = None,
    ) -> dict:
        """Process all not-yet-committed buckets; returns stats.  When every
        bucket is already resolved it returns after the manifest read,
        without planning the pipeline.  Otherwise each attempt writes every
        pending sink in one job, then one footer read counts the delivered
        rows per (sink, bucket) for the commit.  ``fail_after_sinks``
        injects a crash once N sinks are delivered, before the commit
        (tests).  ``with_monitor`` also writes the per-stage totals table
        next to the manifest (``_monitor/stage_counts``, monitor.go:19-42
        analogue) — opt-in because it re-derives every pipeline stage for
        its counts.

        Per-sender drop-vs-retry (producer.go:309-325): each attempt adds
        one to the attempt count of every pending sink; sinks whose
        ``sink_faults`` fire sit the attempt out, the rest are written
        together, and a real error from that write fails the attempt for
        all of them.  A sink that fails ``max_retries`` attempts resolves by
        its policy: with ``discard_when_blocked=True`` it records
        state='discarded' audit rows (committed-with-loss — the run
        completes, the bucket resolves), otherwise the run aborts with every
        bucket uncommitted, so resume re-delivers.  ``sink_faults`` (tests)
        maps sink name -> number of initial write attempts that raise."""
        run_id = run_id or uuid.uuid4().hex[:12]
        input_sig = self.input_sig(sf_dir)
        sinks = [s.name for s in cfg.sinks]

        done = set(self.committed_buckets(input_sig, sinks))
        todo = [b for b in range(self.n_buckets) if b not in done]
        if not todo:  # every bucket resolved: the manifest read was the run
            return {"run_id": run_id, "buckets": 0, "rows": 0, "skipped": len(done)}

        df = P.routed(self.spark, sf_dir, cfg)
        df = df.withColumn(
            "bucket", F.expr(f"CAST(pmod(xxhash64(doc_id), {int(self.n_buckets)}) AS INT)")
        )
        if done:
            df = df.filter(f"(NOT {sql_in('bucket', sorted(done))})")  # replay only uncommitted
        by_name = {s.name: s for s in cfg.sinks}
        attempts = dict.fromkeys(sinks, 0)
        delivered: list[str] = []
        discarded_sinks: list[str] = []
        pending = sinks
        while pending:
            errs: dict[str, Exception] = {}
            for sink in pending:
                attempts[sink] += 1
                if sink_faults and sink_faults.get(sink, 0) >= attempts[sink]:
                    errs[sink] = IOError(f"injected write failure for {sink}")
            ready = [s for s in pending if s not in errs]
            if ready:
                try:
                    write_fanout(df.filter(sql_in("sink", ready)), cfg, self.out_dir, "bucket")
                    delivered += ready
                except Exception as e:  # noqa: BLE001 — retry-or-policy below
                    errs.update(dict.fromkeys(ready, e))
            if fail_after_sinks is not None and len(delivered) >= fail_after_sinks:
                raise RuntimeError("injected failure before manifest commit")
            exhausted = [s for s in pending if s in errs and attempts[s] >= max_retries]
            pending = [s for s in pending if s in errs and attempts[s] < max_retries]
            blocked = [s for s in exhausted if not by_name[s].discard_when_blocked]
            if blocked:
                # non-lossy sink: abort with NOTHING committed — resume
                # recomputes every pending bucket (at-least-once)
                raise RuntimeError(
                    f"sink {blocked[0]} failed after {attempts[blocked[0]]} attempts "
                    "(discard_when_blocked=False -> bucket stays uncommitted)"
                ) from errs[blocked[0]]
            for sink in exhausted:
                # committed-with-loss: the bucket resolves, the loss is an
                # explicit audit row (rows=0 delivered).  A write that died
                # MID-job may have left partial parquet under the bucket
                # partitions — readers must never see data the audit says
                # was dropped, so delete those partitions first
                for b in todo:
                    fs, part = hadoop_fs(
                        self.spark, os.path.join(self.out_dir, f"sink={sink}", f"bucket={b}")
                    )
                    fs.delete(part, True)
                discarded_sinks.append(sink)

        counts: dict[tuple[str, int], int] = {}
        if delivered:
            # partition columns only: Spark answers from the parquet
            # footers, and with their schema given it runs no job to infer it
            counts = {
                (sink, b): n
                for sink, b, n in self.spark.read.schema("sink string, bucket int")
                .parquet(self.out_dir)
                .filter(f"({sql_in('sink', delivered)} AND {sql_in('bucket', todo)})")
                .groupBy("sink", "bucket")
                .count()
                .collect()
            }
        # all sinks resolved for these buckets -> commit (the batch
        # analogue of CommitChan -> journal committed-id write)
        now = time.time()
        commit_rows = [
            (run_id, input_sig, b, sink, counts.get((sink, b), 0), attempts[sink],
             "committed", now)
            for sink in delivered for b in todo
        ] + [
            (run_id, input_sig, b, sink, 0, attempts[sink], "discarded", now)
            for sink in discarded_sinks for b in todo
        ]
        local_table(self.spark, commit_rows, MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.input_manifest_dir(input_sig))
        if with_monitor:
            from go_fluentd_spark.operators.monitor import stage_counts

            stage_counts(self.spark, sf_dir, cfg).withColumn(
                "run_id", F.lit(run_id)
            ).coalesce(1).write.mode("append").parquet(
                os.path.join(self.out_dir, "_monitor", "stage_counts")
            )
        return {
            "run_id": run_id,
            "buckets": len(todo),
            "rows": sum(counts.values()),
            "skipped": len(done),
            "discarded_sinks": discarded_sinks,
        }

    # -- inspection --------------------------------------------------------
    def sink_table(self, sink: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, f"sink={sink}"))

    def stats(self) -> str:
        rows = self.manifest().groupBy("sink", "state").agg(F.sum("rows").alias("rows")).collect()
        return json.dumps({f"{r.sink}/{r.state}": r.rows for r in rows}, sort_keys=True)
