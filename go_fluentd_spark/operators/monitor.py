"""Per-stage monitor counters (reference ``internal/monitor/monitor.go:19-42``:
the /monitor endpoint exposes per-stage message totals and msg/sec rates).

Batch restatement: ``stage_counts`` is the hash-checkable totals table —
rows seen at every pipeline stage plus the discard audit, so the
conservation identity ``concat = parsed + discarded`` is checkable in ONE
query result (composing with ``operators/audit.py``).  ``stage_metrics``
adds wall-clock rates (the msg/sec part — runtime-dependent, so it feeds
the CLI/monitoring table, not the correctness gate).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_fluentd_spark.config import DEFAULT_CONFIG, PipelineConfig
from go_fluentd_spark.operators.acceptor import acceptor_chain
from go_fluentd_spark.operators.audit import discard_reasons
from go_fluentd_spark.operators.dispatcher import route
from go_fluentd_spark.operators.parser import parse
from go_fluentd_spark.plans import pipeline as P
from go_fluentd_spark.session import local_table

#: stage name -> frame builder, in pipeline order (monitor.go tracks the same
#: boundaries: recv -> concator -> acceptor -> tagfilter -> producer)
STAGES = [
    ("ingest", P.ingested),
    ("concat", P.concatted),
    ("accepted", P.accepted),
    ("parsed", P.parsed),
    ("routed", P.routed),
]


def stage_counts(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(stage, n) totals per pipeline stage + the discard audit.  ``routed``
    counts deliveries (rows x matching sinks), mirroring the reference's
    producer counter which increments per send.

    Single-materialization: the source is scanned ONCE — the concat frame is
    cached (one scan + one concat-window shuffle fills it) and every stage
    total derives from it: ``ingest`` is recovered as sum(n_merged) (each
    ingested row lands in exactly one session, the conservation identity the
    oracle re-checks independently), the acceptor/discard stages are narrow
    predicates over the cache, and the parse frame is cached in turn so
    ``parsed`` and ``routed`` (its broadcast fan-out) share one parse pass;
    it parses only ``P.COUNT_COLUMNS``, so no payload column rides through
    the map-in parse or its cache.
    Counters are collected eagerly (monitor counters are driver-side state in
    the reference too, monitor.go:19-42) and returned as a literal frame —
    the oracle mirror recomputes every stage independently, so the identity
    web stays hash-checked end-to-end."""
    conc = P.concatted(spark, sf_dir, cfg).persist()
    try:
        concat_n = conc.count()
        # coalesce: sum() over an empty source is NULL, not 0
        ingest_n = int(
            conc.agg(F.coalesce(F.sum("n_merged"), F.lit(0))).collect()[0][0]
        )
        accepted = acceptor_chain(conc, cfg)
        accepted_n = accepted.count()
        par = parse(accepted.select(*P.COUNT_COLUMNS), cfg).persist()
        try:
            parsed_n = par.count()
            routed_n = route(spark, P.enrich(spark, par, cfg), cfg).count()
        finally:
            par.unpersist()
        discarded_n = discard_reasons(conc, cfg).count()
    finally:
        conc.unpersist()
    rows = [
        ("ingest", ingest_n),
        ("concat", concat_n),
        ("accepted", accepted_n),
        ("parsed", parsed_n),
        ("routed", routed_n),
        ("discarded", discarded_n),
    ]
    return local_table(spark, rows, "stage string, n bigint")


def stage_metrics(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT_CONFIG
) -> list[dict]:
    """Counts + wall seconds + rows/sec per stage (the /monitor msg-per-sec
    analogue).  Each stage is timed as its own action — runtime numbers, not
    part of the oracle gate."""
    out: list[dict] = []
    for name, df_fn in STAGES:
        t0 = time.perf_counter()
        n = df_fn(spark, sf_dir, cfg).count()
        dt = time.perf_counter() - t0
        out.append(
            {
                "stage": name,
                "n": n,
                "sec": round(dt, 3),
                "rows_per_sec": round(n / dt, 1) if dt else None,
            }
        )
    return out
