"""Durability & resume: the journal/WAL analogue (reference
``internal/controller/journal.go`` + commit collector ``producer.go:161-220``).

The reference's guarantees restated for batch (SURVEY.md §2.3):

- *at-least-once + dedup* -> idempotent bucket-grained writes: the source is
  hash-bucketed on ``pmod(xxhash64(doc_id), n_buckets)`` (the WAL's per-tag
  sharding, generalized), each bucket's per-sink output is a parquet
  partition directory, and a bucket is COMMITTED only after every sink's
  write succeeded (the reference commits a msg only when *all* senders for
  its tag succeeded, ``producer.go:161-220``).
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
  delivered and commits with ``rows=0``.  The per-sink counts come from the
  job that materializes the cached frame, not from a pass per sink.

The input signature is the input path plus ``n_buckets``: replacing the
files under the same path is not detected, and a rerun on changed input
skips every bucket the old input committed.

At 10^12-row scale ``n_buckets`` is the resume granule: thousands of buckets
keep re-work per failure small while the manifest table stays tiny.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_fluentd_spark.config import DEFAULT_CONFIG, PipelineConfig
from go_fluentd_spark.plans import pipeline as P

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

    # -- manifest table ----------------------------------------------------
    def _has_manifest(self) -> bool:
        return os.path.isdir(self.manifest_dir) and any(
            f.endswith(".parquet") for f in os.listdir(self.manifest_dir)
        )

    def manifest(self) -> DataFrame:
        if not self._has_manifest():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.manifest_dir)

    def committed_buckets(self, input_sig: str, n_sinks: int) -> list[int]:
        """Buckets whose EVERY sink RESOLVED (commit-collector rule,
        producer.go:161-220): 'committed' = delivered; 'discarded' = the
        sink's is_discard_when_blocked dropped the batch after retries —
        the reference marks the message committed either way, the loss is
        visible only in the audit row."""
        if not self._has_manifest():
            return []  # fresh output dir: no Spark job
        m = (
            self.manifest()
            .filter(
                (F.col("input_sig") == input_sig)
                & F.col("state").isin("committed", "discarded")
            )
            .groupBy("bucket")
            .agg(F.countDistinct("sink").alias("ns"))
            .filter(F.col("ns") >= n_sinks)
        )
        return [r.bucket for r in m.collect()]

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
        without planning the pipeline.  ``fail_after_sinks`` injects a
        crash after N sink writes (tests).  ``with_monitor`` also writes
        the per-stage totals table next to the manifest
        (``_monitor/stage_counts``, monitor.go:19-42 analogue) — opt-in
        because it re-derives every pipeline stage for its counts.

        Per-sender drop-vs-retry (producer.go:309-325): each sink write is
        retried up to ``max_retries`` times; on exhaustion a sink with
        ``discard_when_blocked=True`` records state='discarded' audit rows
        (committed-with-loss — the run completes, the bucket resolves) while
        a non-discarding sink aborts the run with every bucket uncommitted,
        so resume re-delivers.  ``sink_faults`` (tests) maps sink name ->
        number of initial write attempts that raise."""
        run_id = run_id or uuid.uuid4().hex[:12]
        input_sig = f"{os.path.abspath(sf_dir)}#b{self.n_buckets}"
        sinks = [s.name for s in cfg.sinks]

        done = set(self.committed_buckets(input_sig, len(sinks)))
        todo = [b for b in range(self.n_buckets) if b not in done]
        if not todo:  # every bucket resolved: the manifest read was the run
            return {"run_id": run_id, "buckets": 0, "rows": 0, "skipped": len(done)}

        df = P.routed(self.spark, sf_dir, cfg)
        df = df.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(self.n_buckets)).cast("int")
        )
        if done:
            df = df.filter(~F.col("bucket").isin(sorted(done)))  # replay only uncommitted
        df = df.persist()
        try:
            # the job that materializes the cache also counts every delivery
            counts = {
                (sink, b): n for sink, b, n in df.groupBy("sink", "bucket").count().collect()
            }
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            written = 0
            discarded_sinks: list[str] = []
            commit_rows: list[tuple] = []
            by_name = {s.name: s for s in cfg.sinks}
            for i, sink in enumerate(sinks):
                part = df.filter(F.col("sink") == sink).drop("sink")
                path = os.path.join(self.out_dir, f"sink={sink}")
                attempts, err = 0, None
                while attempts < max_retries:
                    attempts += 1
                    try:
                        if sink_faults and sink_faults.get(sink, 0) >= attempts:
                            raise IOError(f"injected write failure for {sink}")
                        part.write.mode("overwrite").partitionBy("bucket").parquet(path)
                        err = None
                        break
                    except Exception as e:  # noqa: BLE001 — retry-or-policy below
                        err = e
                if err is not None:
                    if by_name[sink].discard_when_blocked:
                        # committed-with-loss: the bucket resolves, the loss
                        # is an explicit audit row (rows=0 delivered).  A
                        # retry that died MID-write may have left partial
                        # parquet under the bucket partitions — readers must
                        # never see data the audit says was dropped, so
                        # best-effort delete those partitions first
                        for b in todo:
                            shutil.rmtree(
                                os.path.join(path, f"bucket={b}"),
                                ignore_errors=True,
                            )
                        discarded_sinks.append(sink)
                        for b in todo:
                            commit_rows.append(
                                (run_id, input_sig, b, sink, 0, attempts,
                                 "discarded", time.time())
                            )
                        continue
                    # non-lossy sink: abort with NOTHING committed — resume
                    # recomputes every pending bucket (at-least-once)
                    raise RuntimeError(
                        f"sink {sink} failed after {attempts} attempts "
                        "(discard_when_blocked=False -> bucket stays uncommitted)"
                    ) from err
                for b in todo:
                    n = counts.get((sink, b), 0)
                    commit_rows.append(
                        (run_id, input_sig, b, sink, n, attempts, "committed", time.time())
                    )
                    written += n
                if fail_after_sinks is not None and i + 1 >= fail_after_sinks:
                    raise RuntimeError("injected failure before manifest commit")

            # all sinks succeeded for these buckets -> commit (the batch
            # analogue of CommitChan -> journal committed-id write)
            self.spark.createDataFrame(commit_rows, MANIFEST_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.manifest_dir)
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
                "rows": written,
                "skipped": len(done),
                "discarded_sinks": discarded_sinks,
            }
        finally:
            df.unpersist()

    # -- inspection --------------------------------------------------------
    def sink_table(self, sink: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, f"sink={sink}"))

    def stats(self) -> str:
        rows = self.manifest().groupBy("sink", "state").agg(F.sum("rows").alias("rows")).collect()
        return json.dumps({f"{r.sink}/{r.state}": r.rows for r in rows}, sort_keys=True)
