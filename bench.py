"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ..., "rows": ..., "seq_per_sec": ..., "stream": {...}, "scaling": {...}}

Env knobs:
  SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] (default 32)
  SPARK_GRAFT_SEQ_REP  source replication factor (default 4 -> 600k rows at
                       sf0.1; correctness paths always use rep=1)
  SPARK_GRAFT_BENCH_REPS   best-of-N per headline query (default 3)
  SPARK_GRAFT_STREAM   "0" skips the streaming micro/bulk rows/s
  SPARK_GRAFT_STREAM_REPS  best-of-N stream runs (default 1)
  SPARK_GRAFT_SCALING  "0" skips the pinned 2-vs-8-core scaling evidence
                       (default on; run after the main session stops, never
                       two Spark jobs at once).  The hunt's own knobs
                       (SPARK_GRAFT_SCALING_BUDGET, _REP, _PAIRS and
                       SPARK_GRAFT_PROBE_GATE_EFF, _BW) are read and
                       documented in tools/scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from go_fluentd_spark.config import DEFAULT_CONFIG
from go_fluentd_spark.operators import dataprep as DP
from go_fluentd_spark.operators.acceptor import acceptor_chain
from go_fluentd_spark.operators.concat import concat_sessions
from go_fluentd_spark.operators.parser import parse
from go_fluentd_spark.plans import pipeline as P
from go_fluentd_spark.session import build_spark


def _noop_sink(df) -> int:
    """Force full materialization of every column (write-like work) without
    touching disk: fold all columns through a hash and aggregate."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # map columns are not hashable in Spark (order-unstable); fold them as keys
    cols = [
        F.map_keys(f.name) if isinstance(f.dataType, T.MapType) else F.col(f.name)
        for f in df.schema.fields
        if not f.name.startswith("_")
    ]
    return (
        df.select((F.xxhash64(*cols) % 1000000007).alias("h"))
        .agg(F.sum("h"))
        .collect()[0][0]
    )


def _parse_leaf(impl: str):
    return lambda spark, sf_dir, rep: parse(
        acceptor_chain(concat_sessions(P.ingested(spark, sf_dir, rep=rep)), DEFAULT_CONFIG),
        DEFAULT_CONFIG,
        impl=impl,
    )


def _dataprep_leaf(fn):
    return lambda spark, sf_dir, rep: fn(spark, sf_dir)


#: the headline leaves: (name, build(spark, sf_dir, rep) -> DataFrame, action).
#: concat_sessions and the parse leaves concat WITHOUT max_len, so they are
#: not P.concatted/P.accepted; pipeline_routed_materialize hashes the
#: enriched, pre-fan-out frame (P.enriched, not P.routed); the dataprep
#: leaves read the documents/embeddings tables and ignore rep.
BENCH_LEAVES = [
    ("ingest_scan", lambda spark, sf_dir, rep: P.ingested(spark, sf_dir, rep=rep), "hash"),
    (
        "concat_sessions",
        lambda spark, sf_dir, rep: concat_sessions(P.ingested(spark, sf_dir, rep=rep)),
        "count",
    ),
    ("parse_native", _parse_leaf("native"), "count"),
    # key kept from the pandas-UDF backend it replaced: the bench line pins it
    ("parse_pandas", _parse_leaf("arrow"), "count"),
    ("pipeline_sink_counts", lambda spark, sf_dir, rep: P.sink_counts(spark, sf_dir, rep=rep), "collect"),
    ("pipeline_routed_materialize", lambda spark, sf_dir, rep: P.enriched(spark, sf_dir, rep=rep), "hash"),
    ("dataprep_minhash_lsh_pairs", _dataprep_leaf(DP.minhash_lsh_pairs), "count"),
    ("dataprep_dedup_clusters", _dataprep_leaf(DP.dedup_clusters), "count"),
    ("dataprep_embed_banded_pairs", _dataprep_leaf(DP.embed_banded_pairs), "count"),
    ("dataprep_winnow_fingerprints", _dataprep_leaf(DP.winnow_fingerprints), "hash"),
    ("dataprep_token_ngram_dup", _dataprep_leaf(DP.token_ngram_dup_stats), "count"),
    ("dataprep_substr_dup_spans", _dataprep_leaf(DP.substr_dup_spans), "hash"),
    ("dataprep_sequence_chunks", _dataprep_leaf(DP.sequence_chunks), "count"),
    ("dataprep_pii_scrub", _dataprep_leaf(DP.pii_scrub), "count"),
    ("dataprep_token_vocab_topk", _dataprep_leaf(DP.token_vocab_topk), "count"),
    ("dataprep_token_lm", _dataprep_leaf(DP.token_lm_scores), "count"),
]

#: how a leaf's frame is forced: xxhash fold, row count, or driver collect
ACTIONS = {"hash": _noop_sink, "count": lambda df: df.count(), "collect": lambda df: df.collect()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rep = int(os.environ.get("SPARK_GRAFT_SEQ_REP", "4"))
    extra = {}
    if os.path.isdir("/dev/shm"):
        os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
        extra["spark.local.dir"] = "/dev/shm/spark-tmp"  # shuffle off the data disk
    spark = build_spark("bench", cores=cores, extra_conf=extra)

    n_rows = P.ingested(spark, sf_dir, rep=rep).count()  # warms the JVM + file listing; not timed below

    # one untimed warm-up pass of the full pipeline: the first execution of
    # the parse/enrich path pays Arrow worker spin-up + codegen compilation,
    # which polluted earlier artifacts' first timed run even at best-of-2
    # (BENCH_r03's shared queries sat 40-50% above steady state)
    _noop_sink(P.enriched(spark, sf_dir, rep=rep))

    timings: dict[str, float] = {}
    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    for name, build, action in BENCH_LEAVES:
        best = None
        for _ in range(n_reps):  # best-of-N: single-JVM GC variance is 2-4x
            t0 = time.perf_counter()
            ACTIONS[action](build(spark, sf_dir, rep))
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)

    # streaming-mode end-to-end (the apples-to-apples number vs the
    # reference DAEMON's 19,111 msg/s): same engine code through Structured
    # Streaming, micro-batch + bulk trigger sizes — see tools/stream_bench.py
    # and BENCH.md "Streaming mode".  Kept out of `queries` (it is not a
    # batch headline query); compact two-number summary only.
    stream_summary = None
    if os.environ.get("SPARK_GRAFT_STREAM", "1") != "0":
        import shutil
        import tempfile

        from tools.stream_bench import run_stream_bench

        swork = tempfile.mkdtemp(
            prefix="bench-stream-",
            dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        )
        try:
            sres = run_stream_bench(
                spark, sf_dir, swork,
                reps=int(os.environ.get("SPARK_GRAFT_STREAM_REPS", "1")),
            )
            stream_summary = {
                "rows_per_sec": sres["rows_per_sec"],
                "bulk_rows_per_sec": sres["bulk_rows_per_sec"],
                "batches": sres["batches"],
            }
        except Exception as exc:  # noqa: BLE001
            # fail-soft: a streaming hiccup must never cost the whole
            # artifact (the r4 lesson) — degrade to an error marker.
            print(f"stream bench failed: {exc!r}", file=sys.stderr)
            stream_summary = {"error": type(exc).__name__}
        finally:
            shutil.rmtree(swork, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    e2e = timings["pipeline_routed_materialize"]
    result = {
        "metric": "total wall sec of headline queries (parse→enrich→route→aggregate over tokenized sequences)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "rows": n_rows,
        "cores": cores,
        "rep": rep,
        "seq_per_sec": round(n_rows / e2e, 1) if e2e else None,
    }
    if stream_summary is not None:
        result["stream"] = stream_summary
    spark.stop()

    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        # the north rule's two-parallelism evidence (tools/scaling.py), run
        # after the main session stops.  The pairs and probes go to a
        # sidecar file; the stdout line carries the compact summary only,
        # since it must survive a ~2 KB tail capture (BENCH_r04 parsed as
        # null when the full evidence was inline)
        from tools import scaling

        sp = scaling.hunt(sf_dir)
        sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_scaling.json")
        with open(sidecar, "w") as f:
            json.dump({"headline": result, "scaling_pairs": sp}, f, indent=1)
        result["scaling"] = scaling.compact(sp, os.path.basename(sidecar))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
