"""Resume semantics (FIXTURES.md F6): kill after partial commit, rerun,
assert no dupes / no loss vs a clean run."""

import pytest

from go_fluentd_spark.plans.manifest import ManifestedRun


def sink_rows(m, sink):
    df = m.sink_table(sink)
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_clean_run_then_noop_rerun(spark, sf_dir, tmp_path):
    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8)
    s1 = m.run(sf_dir)
    assert s1["buckets"] == 8 and s1["rows"] > 0
    # rerun: everything committed -> zero work, tables unchanged
    before = sink_rows(m, "es_general")
    s2 = m.run(sf_dir)
    assert s2["buckets"] == 0 and s2["skipped"] == 8
    assert sink_rows(m, "es_general") == before


def test_run_with_monitor_writes_stage_counts(spark, sf_dir, tmp_path):
    """monitor.go:19-42 analogue next to the manifest: per-stage totals with
    the conservation identity intact."""
    import os

    out = str(tmp_path / "out")
    m = ManifestedRun(spark, out, n_buckets=4)
    m.run(sf_dir, with_monitor=True)
    got = spark.read.parquet(os.path.join(out, "_monitor", "stage_counts"))
    n = {r.stage: r.n for r in got.collect()}
    assert n["concat"] == n["parsed"] + n["discarded"]
    assert got.columns == ["stage", "n", "run_id"]


def test_crash_before_commit_then_resume(spark, sf_dir, tmp_path):
    ref = ManifestedRun(spark, str(tmp_path / "ref"), n_buckets=8)
    ref.run(sf_dir)
    expected = sink_rows(ref, "es_general")

    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8)
    # crash after the first sink write, BEFORE any manifest commit
    with pytest.raises(RuntimeError, match="injected failure"):
        m.run(sf_dir, fail_after_sinks=1)
    assert m.committed_buckets(f"{sf_dir}#b8", 3) == []  # nothing committed

    s = m.run(sf_dir)  # resume reprocesses everything, idempotently
    assert s["buckets"] == 8
    assert sink_rows(m, "es_general") == expected  # no dupes, no loss


def test_discard_when_blocked_commits_with_loss(spark, sf_dir, tmp_path):
    """producer.go:309-325 drop policy: a permanently failing sink with
    discard_when_blocked=True records 'discarded' audit rows after the
    retry budget and the run COMPLETES; transient faults are absorbed by
    the retries and land as committed rows with attempts>1."""
    import dataclasses

    from pyspark.sql import functions as F

    from go_fluentd_spark.config import DEFAULT_CONFIG

    cfg = dataclasses.replace(DEFAULT_CONFIG)
    cfg.sinks = [
        dataclasses.replace(s, discard_when_blocked=(s.name == "fluentd_backup"))
        for s in DEFAULT_CONFIG.sinks
    ]
    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8)
    # simulate a retry that died MID-write: partial parquet left under a
    # bucket partition of the about-to-be-discarded sink — the discard path
    # must delete it (readers must never see data the audit says was lost)
    partial = tmp_path / "out" / "sink=fluentd_backup" / "bucket=0"
    partial.mkdir(parents=True)
    (partial / "part-00000.parquet").write_bytes(b"garbage")
    s = m.run(
        sf_dir, cfg=cfg,
        sink_faults={"fluentd_backup": 99, "es_general": 2},  # permanent / transient
    )
    assert s["discarded_sinks"] == ["fluentd_backup"]
    assert not partial.exists(), "partial bucket data survived the discard"
    man = m.manifest()
    by = {
        (r.sink, r.state): (r.attempts, r.rows)
        for r in man.groupBy("sink", "state").agg(
            F.max("attempts").alias("attempts"), F.sum("rows").alias("rows")
        ).collect()
    }
    att, lost = by[("fluentd_backup", "discarded")]
    assert att == 3 and lost == 0  # loss explicit, retry budget exhausted
    att_es, rows_es = by[("es_general", "committed")]
    assert att_es == 3 and rows_es > 0  # transient fault absorbed by retries
    # every bucket RESOLVED (committed or discarded) -> rerun is a noop
    assert len(m.committed_buckets(f"{sf_dir}#b8", 3)) == 8
    s2 = m.run(sf_dir, cfg=cfg)
    assert s2["buckets"] == 0 and s2["skipped"] == 8


def test_blocked_nondiscard_sink_stays_uncommitted(spark, sf_dir, tmp_path):
    """The non-lossy default: a blocked sink with discard_when_blocked=False
    aborts the run with nothing committed; resume re-delivers everything."""
    ref = ManifestedRun(spark, str(tmp_path / "ref"), n_buckets=8)
    ref.run(sf_dir)
    expected = sink_rows(ref, "es_general")

    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8)
    with pytest.raises(RuntimeError, match="stays uncommitted"):
        m.run(sf_dir, sink_faults={"kafka_cp": 99})
    assert m.committed_buckets(f"{sf_dir}#b8", 3) == []
    s = m.run(sf_dir)  # resume: full re-delivery, idempotent
    assert s["buckets"] == 8
    assert sink_rows(m, "es_general") == expected


def test_partial_commit_skips_committed_buckets(spark, sf_dir, tmp_path):
    ref = ManifestedRun(spark, str(tmp_path / "ref"), n_buckets=8)
    ref.run(sf_dir)
    expected = {s: sink_rows(ref, s) for s in ("es_general", "kafka_cp")}

    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8)
    first = m.run(sf_dir)
    assert first["buckets"] == 8
    s2 = m.run(sf_dir)
    assert s2["skipped"] == 8 and s2["buckets"] == 0
    for s in expected:
        assert sink_rows(m, s) == expected[s]


def test_empty_buckets_commit_and_rerun_is_noop(spark, sf_dir, tmp_path):
    """With far more buckets than routed doc_ids most buckets get no row.
    Every bucket still commits, one row per sink, so the rerun resolves
    them all; each row's count matches the sink table read back from disk."""
    from go_fluentd_spark.config import DEFAULT_CONFIG

    nb = 4096
    sinks = [s.name for s in DEFAULT_CONFIG.sinks]
    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=nb)
    s1 = m.run(sf_dir)
    assert s1["buckets"] == nb
    man = m.manifest().collect()
    assert len(man) == nb * len(sinks)
    for sink in sinks:
        on_disk = {
            r.bucket: r["count"]
            for r in m.sink_table(sink).groupBy("bucket").count().collect()
        }
        rows = {r.bucket: r.rows for r in man if r.sink == sink}
        assert sorted(rows) == list(range(nb))
        assert {b: n for b, n in rows.items() if n} == on_disk
        assert 0 < len(on_disk) < nb  # the adversarial case: most buckets empty
    s2 = m.run(sf_dir)
    assert s2["buckets"] == 0 and s2["skipped"] == nb


def test_job_counts_fresh_run_and_noop_rerun(spark, sf_dir, tmp_path):
    """A resolved rerun is the manifest read alone, and a fresh run counts
    its deliveries in the job that materializes the cached frame: no
    distinct-bucket pass, no count pass per sink, no job for the manifest
    of a fresh output dir."""
    sc = spark.sparkContext
    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8)

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    fresh = jobs(f"fresh-{tmp_path.name}", lambda: m.run(sf_dir))
    rerun = jobs(f"rerun-{tmp_path.name}", lambda: m.run(sf_dir))
    assert rerun <= 3
    assert fresh <= 13
