"""The workloads: each makes its inputs from the seed, sets up Spark, runs
its operation in a closed loop (one at a time) and checks every output
against the DuckDB oracle.

Untraced runs report the end-to-end metrics.  Traced runs (``trace=True``)
turn Spark's event log on, wrap each layer call in a span with its own job
group, and report the per-layer metrics.  Layers a run does not exercise
report 0: that layer did no work there.  A layer it does exercise must
report every one of its metrics.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime
from time import perf_counter as now

from checks import (
    CURATION_COLS,
    connect,
    curation_diff,
    curation_key,
    diff,
    grouped_counts,
    oracle_curation,
    oracle_parsed_count,
    oracle_routed_digest,
    oracle_sink_counts,
    sink_table_state,
)
from harness import MemSampler, build_session, stop_session
from inputs import write_backlog, write_documents, write_orders
from trace import EventLog, Execution, Tracer, count_plan_nodes, layer_stats, read_events

# sizes: every operation here is dominated by fixed per-job cost, and one
# run (set-up, measurement, checks) has to stay near a minute; see README.md
N_SEQ = 5000  # batch_full input sequences
N_BUCKETS = 8  # resume granule of the manifested run
N_STREAM = 1600  # stream_micro backlog rows
STREAM_FILES = 2  # backlog files = micro-batches: one cold trigger, one timed
N_DOCS = 400  # curate documents

END_TO_END = {
    "setup_s": "s",
    "rate_per_s": "1/s",
    "step_s": "s",
    "peak_pss_mb": "MB",
}

PIPE_LAYERS = [
    "synth", "concat", "acceptor", "parser", "enrich", "dispatcher",
    "manifest", "stream_pipeline",
]
PIPE_METRICS = {
    "self_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s", "rows_out": "rows",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
    "core_util": "ratio",
}
DP_LAYERS = [
    "dataprep.lsh", "dataprep.cc", "dataprep.quality", "dataprep.langid",
    "dataprep.token_lm",
]
DP_METRICS = {"self_s": "s", "task_s": "s", "shuffle_write_mb": "MB", "rows_out": "rows"}
LAYER_EXTRA = {
    "concat.fold_ratio": "ratio",
    "acceptor.discarded": "rows",
    "parser.discarded": "rows",
    "parser.py_wait_s": "s",
    "parser.arrow_nodes": "count",
    "dispatcher.fanout": "ratio",
    "manifest.jobs": "count",
    "manifest.pipeline_s": "s",
    "manifest.write_s": "s",
    "manifest.count_s": "s",
    "manifest.commit_s": "s",
    "manifest.written_mb": "MB",
    "manifest.files": "count",
    "stream_pipeline.batches": "count",
    "stream_pipeline.add_batch_p50_s": "s",
    "stream_pipeline.state_rows_max": "rows",
    "stream_pipeline.state_mb_max": "MB",
    "stream_pipeline.drain_s": "s",
    "dataprep.lsh.pairs": "rows",
    "dataprep.keep_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    out = {f"{l}.{m}": u for l in PIPE_LAYERS for m, u in PIPE_METRICS.items()}
    out.update({f"{l}.{m}": u for l in DP_LAYERS for m, u in DP_METRICS.items()})
    out.update(LAYER_EXTRA)
    return out


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: float
    cores: int
    trace: bool
    spark: object = None
    tracer: Tracer | None = None
    #: rows out of each traced layer
    rows: dict[str, float] = field(default_factory=dict)
    #: per-layer figures measured outside the event log
    notes: dict[str, float] = field(default_factory=dict)

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    #: workload-specific names of the end-to-end figures, for the summary
    named: dict[str, tuple[float, str]] = field(default_factory=dict)

    def op(self, problems: list[str]) -> bool:
        """Count one timed operation; ``problems`` non-empty = failed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.extend(problems)
        return not problems

    def report(self, setup_s: float, rate: float, step: float, mem_mb: float, names: list[tuple[str, str]]) -> None:
        vals = [setup_s, rate, step, mem_mb]
        self.metrics = dict(zip(END_TO_END, vals))
        self.named = {n: (v, u) for (n, u), v in zip(names, vals)}


def _fold(df) -> int:
    """Materialize every column of a persisted frame with an order-free
    hash fold (a bare count lets the optimizer prune columns away); returns
    the row count."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.map_entries(f.name) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).first()[0]


def _layer(ctx: Ctx, name: str, build, keep: list):
    """Run one layer call under its span, persisted and folded."""
    with ctx.tracer.span(name):
        df = build().persist()
        ctx.rows[name] = float(_fold(df))
    keep.append(df)
    return df


def _session(ctx: Ctx):
    return build_session(
        ctx.path("spark"), ctx.cores, event_log=ctx.path("eventlog") if ctx.trace else None
    )


def complete_layer_metrics(measured: dict[str, float], spans: list[str]) -> dict[str, float]:
    """Every per-layer metric.  A metric belongs to the layer family named
    by its first dotted part (``dataprep.lsh.pairs`` to ``dataprep``).
    Families no span of the run covered did no work there and report 0; a
    missing metric of a traced family is an error."""
    traced = {s.split(".")[0] for s in spans} | {"trace"}
    units = per_layer_units()
    missing = [k for k in units if k not in measured and k.split(".")[0] in traced]
    if missing:
        raise ValueError(f"traced layers lack metrics: {missing}")
    return {k: measured.get(k, 0.0) for k in units}


def _layer_report(ctx: Ctx) -> dict[str, float]:
    """Every per-layer metric of a traced run."""
    log = EventLog.parse(read_events(ctx.path("eventlog")))
    stats = layer_stats(ctx.tracer, log, ctx.cores)
    out = {f"{layer}.{m}": v for layer, st in stats.items() for m, v in st.items()}
    for layer, n in ctx.rows.items():
        out[f"{layer}.rows_out"] = n
    out.update(ctx.notes)
    if "parser" in stats:
        out["parser.py_wait_s"] = stats["parser"]["task_s"] - stats["parser"]["cpu_s"]
        out["parser.arrow_nodes"] = float(sum(
            count_plan_nodes(e.plan, "ArrowEvalPython")
            for e in log.group_execs({_span(ctx, "parser").group})
        ))
    if "manifest" in stats:
        phase = manifest_phases(log.group_execs({_span(ctx, "manifest").group}))
        out.update({f"manifest.{k}_s": v for k, v in phase.items()})
    return complete_layer_metrics(out, [s.name for s in ctx.tracer.spans])


def _span(ctx: Ctx, name: str):
    return next(s for s in ctx.tracer.spans if s.name == name)


def manifest_phases(execs: list[Execution]) -> dict[str, float]:
    """Seconds per phase of a manifested run, from its SQL executions in
    order: the ``_manifest`` append is the commit, ``sink=`` writes are sink
    writes; executions without a write are the pipeline pass before the
    first sink write and the per-bucket counts after it."""
    phase = {"pipeline": 0.0, "write": 0.0, "count": 0.0, "commit": 0.0}
    wrote = False
    for e in execs:
        dur = ((e.end_ms or e.start_ms) - e.start_ms) / 1e3
        if "InsertIntoHadoopFsRelationCommand" in e.plan and "_manifest" in e.plan:
            phase["commit"] += dur
        elif "InsertIntoHadoopFsRelationCommand" in e.plan:
            phase["write"] += dur
            wrote = True
        else:
            phase["count" if wrote else "pipeline"] += dur
    return phase


# ---------------------------------------------------------------------------
# batch_full
# ---------------------------------------------------------------------------


def batch_full(ctx: Ctx) -> Result:
    from go_fluentd_spark.config import DEFAULT_CONFIG as cfg
    from go_fluentd_spark.plans.manifest import ManifestedRun

    inp = ctx.path("input")
    os.makedirs(inp)
    write_orders(os.path.join(inp, "orders.parquet"), ctx.seed, N_SEQ)
    con = connect(inp, ["orders"])
    want_counts = oracle_sink_counts(con)
    want_digest = oracle_routed_digest(con)
    con.close()
    want_rows = sum(want_counts.values())
    sinks = [s.name for s in cfg.sinks]
    res = Result()

    def manifested(out: str) -> tuple[float, dict]:
        t = now()
        st = ManifestedRun(ctx.spark, out, n_buckets=N_BUCKETS).run(inp)
        return now() - t, st

    def check_tables(out: str, label: str) -> list[str]:
        got_counts, got_digest = sink_table_state(ctx.spark, out, sinks)
        return diff(f"{label} sink counts", got_counts, want_counts) + diff(
            f"{label} token digest", got_digest, want_digest
        )

    with MemSampler() as mem:
        t0 = now()
        ctx.spark = _session(ctx)
        try:
            manifested(ctx.path("out", "cold"))
            setup_s = now() - t0
            fresh_s, rerun_s = [], []
            i, t_meas = 0, 0.0
            # a traced run needs one untraced fresh time, for its overhead
            # ratio, and no reruns: it must stay within its time limit
            while i == 0 or (t_meas < ctx.seconds and not ctx.trace):
                out = ctx.path("out", f"r{i}")
                dt, st = manifested(out)
                if res.op(diff("fresh rows", st["rows"], want_rows)):
                    fresh_s.append(dt)
                # two reruns: the shortest timed operation, so the most
                # jitter-prone; the tables are checked after the second
                for k in range(0 if ctx.trace else 2):
                    dt2, st2 = manifested(out)
                    probs = diff("rerun buckets", st2["buckets"], 0)
                    if k == 1:
                        probs += check_tables(out, "rerun")
                    if res.op(probs):
                        rerun_s.append(dt2)
                    t_meas += dt2
                t_meas += dt
                i += 1
            if ctx.trace:
                ctx.tracer = Tracer(ctx.spark)
                t = now()
                probs = _batch_chain(ctx, want_counts)
                out = ctx.path("out", "traced")
                with ctx.tracer.span("manifest"):
                    _, st = manifested(out)
                ctx.notes["trace.overhead_ratio"] = (now() - t) / statistics.median(fresh_s)
                ctx.rows["manifest"] = float(st["rows"])
                ctx.notes["manifest.files"] = float(sum(
                    f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs
                ))
                res.op(probs + check_tables(out, "traced"))
        finally:
            stop_session(ctx.spark)
    if ctx.trace:
        res.metrics = _layer_report(ctx)
    elif fresh_s and rerun_s:
        res.report(
            setup_s, N_SEQ / statistics.median(fresh_s), statistics.median(rerun_s), mem.peak_mb,
            [("setup_s", "s"), ("batch_seq_per_s", "seq/s"), ("recheck_s", "s"), ("peak_pss_mb", "MB")],
        )
    return res


def _batch_chain(ctx: Ctx, want_counts) -> list[str]:
    """The layer chain in ``plans/pipeline.py`` order, each layer persisted
    and hash-folded under its own span.  Returns the problems of its
    per-(sink, tag) counts against the oracle."""
    from go_fluentd_spark.config import DEFAULT_CONFIG as cfg
    from go_fluentd_spark.operators.acceptor import acceptor_chain
    from go_fluentd_spark.operators.concat import concat_sessions
    from go_fluentd_spark.operators.dispatcher import route
    from go_fluentd_spark.operators.enrich import add_fields, es_index, msgid
    from go_fluentd_spark.operators.parser import parse
    from go_fluentd_spark.operators.postfilter import post_default
    from go_fluentd_spark.plans.pipeline import POST_STRING_COLS
    from go_fluentd_spark.sources.synth import sequences_df, with_ingest_columns

    spark, inp = ctx.spark, ctx.path("input")
    keep: list = []
    ing = _layer(ctx, "synth", lambda: with_ingest_columns(sequences_df(spark, inp)), keep)
    con = _layer(ctx, "concat", lambda: concat_sessions(ing, max_len=cfg.concat_max_len), keep)
    acc = _layer(ctx, "acceptor", lambda: acceptor_chain(con, cfg), keep)
    par = _layer(ctx, "parser", lambda: parse(acc, cfg), keep)

    def enrich():
        df = add_fields(spark, par, cfg)
        df = post_default(df, cfg, msg_cols=POST_STRING_COLS)
        return msgid(es_index(spark, df, cfg), cfg)

    enr = _layer(ctx, "enrich", enrich, keep)
    rou = _layer(ctx, "dispatcher", lambda: route(spark, enr, cfg), keep)
    probs = diff("traced chain sink counts", grouped_counts(rou), want_counts)
    for df in keep:  # else the manifested run would read these caches
        df.unpersist(blocking=True)
    r = ctx.rows
    ctx.notes.update({
        "concat.fold_ratio": r["synth"] / r["concat"],
        "acceptor.discarded": r["concat"] - r["acceptor"],
        "parser.discarded": r["acceptor"] - r["parser"],
        "dispatcher.fanout": r["dispatcher"] / r["enrich"],
    })
    return probs


# ---------------------------------------------------------------------------
# stream_micro
# ---------------------------------------------------------------------------


def _end_of(progress: dict) -> float:
    """Commit time (epoch s) of the micro-batch a progress entry reports."""
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + progress["durationMs"]["triggerExecution"] / 1e3


def _stream_query(ctx: Ctx, src: str, out: str, ckpt: str, n_rows: int, drain: bool = True):
    """Run the stream pipeline over the backlog until every source row is in
    a committed batch, then drain and stop it (``drain=False``: stop it at
    once, leaving open concat sessions unflushed).  Returns (progress per
    batch, drained, drain seconds)."""
    from go_fluentd_spark.streaming.stream_pipeline import drain_and_stop, run_pipeline_stream

    q = run_pipeline_stream(ctx.spark, src, out, ckpt, max_files_per_trigger=1)
    if ctx.tracer is not None:  # the query's jobs run under its run id
        ctx.tracer.spans[-1].groups.append(str(q.runId))
    seen: dict[int, dict] = {}
    deadline = time.monotonic() + 150
    while sum(p["numInputRows"] for p in seen.values()) < n_rows:
        for p in q.recentProgress:
            seen.setdefault(p["batchId"], p)
        if not q.isActive:
            raise RuntimeError(f"stream query died: {q.exception()}")
        if time.monotonic() > deadline:
            q.stop()
            raise RuntimeError("stream did not consume its backlog in 150 s")
        time.sleep(0.02)
    t = now()
    if drain:
        drained = drain_and_stop(q)
    else:
        q.stop()
        drained = None
    drain_s = now() - t
    for p in q.recentProgress:
        seen.setdefault(p["batchId"], p)
    return [seen[b] for b in sorted(seen)], drained, drain_s


def stream_micro(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    inp = ctx.path("input")
    os.makedirs(inp)
    write_orders(os.path.join(inp, "orders.parquet"), ctx.seed, N_STREAM)
    con = connect(inp, ["orders"])
    src = os.path.join(inp, "backlog")
    n_rows = write_backlog(con, src, STREAM_FILES)
    want_counts = oracle_sink_counts(con)
    want_parsed = oracle_parsed_count(con)
    con.close()
    want_curation = _curate_inputs(ctx) if ctx.trace else None
    res = Result()

    def delivered(out: str) -> int:
        return ctx.spark.read.parquet(os.path.join(out, "_counts")).agg(F.sum("n")).first()[0]

    def check(out: str, drained: bool) -> list[str]:
        return (
            diff("drain settled", drained, True)
            + diff("_counts total", delivered(out), want_parsed)
            + diff("sink counts", grouped_counts(ctx.spark.read.parquet(out)), want_counts)
        )

    with MemSampler() as mem:
        t0_wall = time.time()  # progress timestamps are wall-clock
        ctx.spark = _session(ctx)
        try:
            # the first micro-batch is the cold operation; the rest are
            # timed.  A traced run uses this query only to warm up and for
            # the overhead ratio's reference, so it skips the drain and check
            prog, drained, _ = _stream_query(
                ctx, src, ctx.path("out", "s0"), ctx.path("ckpt", "s0"), n_rows,
                drain=not ctx.trace,
            )
            inputs = [p for p in prog if p["numInputRows"] > 0]
            setup_s = _end_of(inputs[0]) - t0_wall
            warm = inputs[1:]
            timed_s = _end_of(warm[-1]) - _end_of(inputs[0])
            rate = sum(p["numInputRows"] for p in warm) / timed_s
            step = statistics.median(p["durationMs"]["triggerExecution"] / 1e3 for p in warm)
            if not ctx.trace:
                ok = res.op(check(ctx.path("out", "s0"), drained))
            else:
                ctx.tracer = Tracer(ctx.spark)
                out = ctx.path("out", "traced")
                with ctx.tracer.span("stream_pipeline"):
                    prog, drained, drain_s = _stream_query(
                        ctx, src, out, ctx.path("ckpt", "traced"), n_rows
                    )
                res.op(check(out, drained))
                ctx.rows["stream_pipeline"] = float(delivered(out))
                _stream_notes(ctx, prog, drain_s, n_rows / rate)
                res.op(_curate_traced(ctx, want_curation))
        finally:
            stop_session(ctx.spark)
    if ctx.trace:
        res.metrics = _layer_report(ctx)
    elif ok:
        res.report(
            setup_s, rate, step, mem.peak_mb,
            [("setup_s", "s"), ("stream_rows_per_s", "rows/s"), ("trigger_p50_s", "s"), ("peak_pss_mb", "MB")],
        )
    return res


def _stream_notes(ctx: Ctx, prog: list[dict], drain_s: float, plain_s: float) -> None:
    """Layer figures from the traced query's progress reports.  In this
    second query even the first trigger runs warm, so the overhead ratio
    sets the whole traced query against the untraced warm rate."""
    inputs = [p for p in prog if p["numInputRows"] > 0]
    ops = [so for p in prog for so in p.get("stateOperators", [])]
    start = datetime.fromisoformat(prog[0]["timestamp"].replace("Z", "+00:00")).timestamp()
    ctx.notes.update({
        "stream_pipeline.batches": float(len(inputs)),
        "stream_pipeline.add_batch_p50_s": statistics.median(
            p["durationMs"]["addBatch"] / 1e3 for p in inputs
        ),
        "stream_pipeline.state_rows_max": float(max(so["numRowsTotal"] for so in ops)),
        "stream_pipeline.state_mb_max": max(so["memoryUsedBytes"] for so in ops) / 1e6,
        "stream_pipeline.drain_s": drain_s,
        "trace.overhead_ratio": (_end_of(inputs[-1]) - start) / plain_s,
    })


# ---------------------------------------------------------------------------
# curate: runnable by hand; its layers are traced in stream_micro's traced run
# ---------------------------------------------------------------------------


def _curate_inputs(ctx: Ctx) -> list[tuple]:
    """Write the documents and return the oracle's curation decision."""
    os.makedirs(ctx.path("docs"))
    write_documents(ctx.path("docs", "documents.parquet"), ctx.seed, N_DOCS)
    con = connect(ctx.path("docs"), ["documents"])
    want = oracle_curation(con)
    con.close()
    return want


def _curate_op(ctx: Ctx, out: str) -> tuple[float, float, list[tuple], int]:
    """The CLI ``curate`` path: decide, write ``kept/`` and ``audit/``,
    count.  The total count the CLI takes runs first, so it materializes
    the decision before the writes read it from cache and the decision's
    time is separable.  Returns (total s, decision s, audit rows, kept)."""
    from pyspark.sql import functions as F

    from go_fluentd_spark.operators.dataprep import corpus_curation, docs

    spark, inp = ctx.spark, ctx.path("docs")
    t = now()
    audit = corpus_curation(spark, inp).persist()
    try:
        audit.count()
        decide_s = now() - t
        kept = docs(spark, inp).join(audit.filter(F.col("keep") == 1).select("doc_id"), "doc_id")
        kept.write.mode("overwrite").parquet(os.path.join(out, "kept"))
        audit.write.mode("overwrite").parquet(os.path.join(out, "audit"))
        n_kept = audit.filter(F.col("keep") == 1).count()
        total_s = now() - t
        got = sorted(curation_key(r) for r in audit.select(*CURATION_COLS).collect())
    finally:
        audit.unpersist()
    return total_s, decide_s, got, n_kept


def _curate_problems(got, n_kept, want) -> list[str]:
    return curation_diff(got, want) + diff("kept rows", n_kept, sum(r[-1] for r in want))


def curate(ctx: Ctx) -> Result:
    want = _curate_inputs(ctx)
    res = Result()
    with MemSampler() as mem:
        t0 = now()
        ctx.spark = _session(ctx)
        try:
            _curate_op(ctx, ctx.path("out", "cold"))
            setup_s = now() - t0
            total_s, decide_s = [], []
            i, t_meas = 0, 0.0
            while i == 0 or t_meas < ctx.seconds:
                tot, dec, got, n_kept = _curate_op(ctx, ctx.path("out", f"r{i}"))
                if res.op(_curate_problems(got, n_kept, want)):
                    total_s.append(tot)
                    decide_s.append(dec)
                t_meas += tot
                i += 1
            if ctx.trace:
                ctx.tracer = Tracer(ctx.spark)
                res.op(_curate_traced(ctx, want))
                traced_s = sum(sp.end - sp.start for sp in ctx.tracer.spans if sp.parent is None)
                ctx.notes["trace.overhead_ratio"] = traced_s / statistics.median(total_s)
        finally:
            stop_session(ctx.spark)
    if ctx.trace:
        res.metrics = _layer_report(ctx)
    elif total_s:
        res.report(
            setup_s, N_DOCS / statistics.median(total_s), statistics.median(decide_s), mem.peak_mb,
            [("setup_s", "s"), ("curate_docs_per_s", "docs/s"), ("decide_s", "s"), ("peak_pss_mb", "MB")],
        )
    return res


def _curate_traced(ctx: Ctx, want: list[tuple]) -> list[str]:
    """Each curation signal persisted and hash-folded under its own span,
    then the curation decision, which Spark's cache serves from those
    layers, checked against the oracle's ``want``.  Returns its problems.

    Run after another workload's operations (stream_micro), the Python
    workers and the JIT are warm, but the first call of each signal still
    pays its own query's planning and code generation."""
    from go_fluentd_spark.operators import dataprep as D

    spark, inp = ctx.spark, ctx.path("docs")
    keep: list = []
    _layer(ctx, "dataprep.lsh", lambda: D.minhash_lsh_pairs(spark, inp), keep)
    _layer(ctx, "dataprep.cc", lambda: D.dedup_clusters(spark, inp), keep)
    _layer(ctx, "dataprep.quality", lambda: D.quality_scores(spark, inp), keep)
    _layer(ctx, "dataprep.langid", lambda: D.langid(spark, inp), keep)
    _layer(ctx, "dataprep.token_lm", lambda: D.token_lm_scores(spark, inp), keep)
    rows = D.corpus_curation(spark, inp).select(*CURATION_COLS).collect()
    for df in keep:
        df.unpersist(blocking=True)
    got = sorted(curation_key(r) for r in rows)
    n_kept = sum(r["keep"] for r in rows)
    ctx.notes["dataprep.lsh.pairs"] = ctx.rows["dataprep.lsh"]
    ctx.notes["dataprep.keep_ratio"] = n_kept / N_DOCS
    return _curate_problems(got, n_kept, want)


#: what the benchmark runs; ``curate`` also runs by hand
WORKLOADS = {"batch_full": batch_full, "stream_micro": stream_micro}
EXTRA_WORKLOADS = {"curate": curate}
