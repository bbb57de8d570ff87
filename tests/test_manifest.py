"""Resume semantics (FIXTURES.md F6): kill after partial commit, rerun,
assert no dupes / no loss vs a clean run."""

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from go_fluentd_spark.config import DEFAULT_CONFIG, MUST_INCLUDE_FIELDS
from go_fluentd_spark.plans import pipeline as P
from go_fluentd_spark.plans.manifest import MANIFEST_SCHEMA, ManifestedRun
from go_fluentd_spark.session import local_table

SINKS = [s.name for s in DEFAULT_CONFIG.sinks]


def sink_rows(m, sink):
    df = m.sink_table(sink)
    return sorted(r.doc_id for r in df.select("doc_id").collect())


@pytest.fixture(scope="module")
def reference(spark, sf_dir, tmp_path_factory):
    """One clean 8-bucket run with the default config."""
    m = ManifestedRun(spark, str(tmp_path_factory.mktemp("ref") / "out"), n_buckets=8)
    m.run(sf_dir)
    return m


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
    assert m.committed_buckets(m.input_sig(sf_dir), SINKS) == []  # nothing committed

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
    assert len(m.committed_buckets(m.input_sig(sf_dir), SINKS)) == 8
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
    assert m.committed_buckets(m.input_sig(sf_dir), SINKS) == []
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


def test_renamed_sink_is_written_on_rerun(spark, sf_dir, tmp_path, reference):
    """Resume resolves a bucket by WHICH sinks committed, not how many: a
    rerun after renaming a sink recomputes every bucket, and the renamed
    sink's table holds the rows the old name got (producer.go:161-220)."""
    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8)
    assert m.run(sf_dir)["buckets"] == 8
    cfg = dataclasses.replace(DEFAULT_CONFIG)
    cfg.sinks = [
        dataclasses.replace(s, name="fluentd_backup_v2") if s.name == "fluentd_backup" else s
        for s in DEFAULT_CONFIG.sinks
    ]
    s = m.run(sf_dir, cfg=cfg)
    assert s["buckets"] == 8 and s["skipped"] == 0
    assert sink_rows(m, "fluentd_backup_v2") == sink_rows(reference, "fluentd_backup")
    assert m.run(sf_dir, cfg=cfg)["buckets"] == 0


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
    """A resolved rerun is the one-stage read of this input's manifest
    rows, and a fresh run is one sink write plus a footer read of the
    written partitions for its counts: no cached frame, no count pass per
    sink, no schema-inference job (neither for the input, whose read gives
    its schema, nor for the read-back), no job for the manifest of a fresh
    output dir, and no broadcast of a sink membership dim."""
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
    assert rerun == 1
    assert fresh <= 8


def test_fresh_run_is_one_sink_write_and_persists_nothing(spark, sf_dir, tmp_path, monkeypatch):
    """The fan-out is one write of every sink straight from the routed plan:
    one parquet write into out_dir, one manifest append, no cached frame."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    writes, cached = [], []
    parquet = DataFrameWriter.parquet
    monkeypatch.setattr(
        DataFrameWriter, "parquet",
        lambda self, path, *a, **k: (writes.append(path), parquet(self, path, *a, **k))[1],
    )
    for name in ("persist", "cache"):
        monkeypatch.setattr(DataFrame, name, lambda self, *a, **k: cached.append(self))
    out = str(tmp_path / "out")
    m = ManifestedRun(spark, out, n_buckets=8)
    m.run(sf_dir)
    assert writes == [out, m.input_manifest_dir(m.input_sig(sf_dir))] and cached == []


def test_run_keeps_session_overwrite_mode_and_earlier_manifest_rows(spark, sf_dir, tmp_path):
    """The sink write overwrites out_dir itself, so it is dynamic on that
    write alone: the caller's session keeps its overwrite mode, and a
    partial resume leaves the earlier manifest rows in place (a static
    overwrite of out_dir would delete _manifest/)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8)
    sig = m.input_sig(sf_dir)
    earlier = [("earlier", sig, b, s, 0, 1, "committed", 0.0) for b in range(4) for s in SINKS]
    spark.createDataFrame(earlier, MANIFEST_SCHEMA).write.parquet(m.input_manifest_dir(sig))
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        s = m.run(sf_dir)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)
    assert s["skipped"] == 4 and s["buckets"] == 4
    rows = {(r.run_id, r.bucket, r.sink) for r in m.manifest().collect()}
    assert rows == {("earlier", b, k) for b in range(4) for k in SINKS} | {
        (s["run_id"], b, k) for b in range(4, 8) for k in SINKS
    }


def test_file_uri_out_dir_resumes_and_discards(spark, sf_dir, tmp_path):
    """The manifest listing and the discard cleanup go through the Hadoop
    FileSystem API, so a file:// out_dir behaves like a local path: the
    discard deletes a planted partial partition and the rerun finds the
    manifest and skips every bucket."""
    cfg = dataclasses.replace(DEFAULT_CONFIG)
    cfg.sinks = [
        dataclasses.replace(s, discard_when_blocked=(s.name == "fluentd_backup"))
        for s in DEFAULT_CONFIG.sinks
    ]
    partial = tmp_path / "out" / "sink=fluentd_backup" / "bucket=0"
    partial.mkdir(parents=True)
    (partial / "part-00000.parquet").write_bytes(b"garbage")
    m = ManifestedRun(spark, (tmp_path / "out").as_uri(), n_buckets=8)
    s = m.run(sf_dir, cfg=cfg, sink_faults={"fluentd_backup": 99})
    assert s["discarded_sinks"] == ["fluentd_backup"]
    assert not partial.exists(), "partial bucket data survived the discard"
    s2 = m.run(sf_dir, cfg=cfg)
    assert s2["buckets"] == 0 and s2["skipped"] == 8


def test_real_write_failure_aborts_then_resume_redelivers(spark, sf_dir, tmp_path, reference):
    """A write that really fails (a regular file where a sink's directory
    must go) fails the attempt for every sink in it: nothing commits, and
    once the obstacle is gone the resume delivers exactly the clean run's
    rows to every sink."""
    out = tmp_path / "out"
    out.mkdir()
    blocker = out / "sink=kafka_cp"
    blocker.write_text("not a directory")
    m = ManifestedRun(spark, str(out), n_buckets=8)
    with pytest.raises(RuntimeError, match="stays uncommitted"):
        m.run(sf_dir, max_retries=1)
    assert m.committed_buckets(m.input_sig(sf_dir), SINKS) == []
    blocker.unlink()
    assert m.run(sf_dir)["buckets"] == 8
    for sink in SINKS:
        assert sink_rows(m, sink) == sink_rows(reference, sink)


def test_sink_tables_honour_fields_filter(spark, sf_dir, reference):
    """fields.go:54-81 + library/const.go:8-17 on the written tables: in
    kafka_cp every column outside include ∪ MUST_INCLUDE_FIELDS is NULL
    and the rest equal the routed rows; the sinks without an include list
    hold the routed rows unchanged; and every cp row is in both es_general
    and kafka_cp (producer.go:309-325 duplication)."""
    routed = P.routed(spark, sf_dir)
    cols = [c for c in routed.columns if c != "sink"]
    kafka_cfg = next(s for s in DEFAULT_CONFIG.sinks if s.name == "kafka_cp")
    keep = [c for c in cols if c in set(kafka_cfg.include_fields) | set(MUST_INCLUDE_FIELDS)]
    dropped = [c for c in cols if c not in keep]
    assert "tokens" in keep and dropped

    def by_doc(df, cs):
        return {r.doc_id: r for r in df.select(*cs).collect()}

    def routed_to(sink):
        return routed.filter(F.col("sink") == sink)

    kafka = reference.sink_table("kafka_cp")
    assert set(kafka.columns) == set(cols) | {"bucket"}
    assert set(kafka.select(*[F.count(c) for c in dropped]).first()) == {0}
    assert by_doc(kafka, keep) == by_doc(routed_to("kafka_cp"), keep)
    for sink in ("es_general", "fluentd_backup"):
        assert by_doc(reference.sink_table(sink), cols) == by_doc(routed_to(sink), cols), sink
    cp_rows = set(sink_rows(reference, "kafka_cp"))
    assert cp_rows and cp_rows <= set(sink_rows(reference, "es_general"))


def test_manifest_rows_match_routed_sink_counts(spark, sf_dir, reference):
    """The per-sink rows read back from the written partitions equal the
    per-tag-then-fan-out counts of ``P.sink_counts``."""
    got = {
        r.sink: r.n
        for r in reference.manifest().groupBy("sink").agg(F.sum("rows").alias("n")).collect()
    }
    want = {
        r.sink: r.n
        for r in P.sink_counts(spark, sf_dir).groupBy("sink").agg(F.sum("n").alias("n")).collect()
    }
    assert got == want and set(got) == set(SINKS)


def test_input_sig_is_the_qualified_path_from_any_working_dir(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The same input given as a path from one working directory and as a
    file:// URI from another is one signature: the second run skips every
    bucket the first committed."""
    sf = os.path.abspath(sf_dir)
    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8)
    for d in ("a", "b"):
        (tmp_path / d).mkdir()
    monkeypatch.chdir(tmp_path / "a")
    assert m.run(sf)["buckets"] == 8
    monkeypatch.chdir(tmp_path / "b")
    uri = f"file://{sf}"
    assert m.input_sig(uri) == m.input_sig(sf) == f"file:{sf}#b8"
    s = m.run(uri)
    assert s["buckets"] == 0 and s["skipped"] == 8


def test_committed_buckets_matches_duckdb_oracle(spark, tmp_path, monkeypatch):
    """An adversarial manifest: duplicate committed rows from retries,
    discarded rows, a bucket missing one sink (with enough duplicate rows
    to pass a row count), rows of a renamed and of an added sink, another
    input's rows in its own directory and one in this input's, and a legacy
    flat file at the _manifest/ root that would resolve every bucket.  For
    the default sinks, a renamed one and an added one, the check equals
    DuckDB's GROUP BY over the per-input files, counting only the config's
    sinks; it scans only this input's directory."""
    import duckdb
    from pyspark.sql.classic.dataframe import DataFrame

    m = ManifestedRun(spark, str(tmp_path / "out"), n_buckets=8)
    sig, other = m.input_sig(str(tmp_path / "in")), m.input_sig(str(tmp_path / "other"))
    es, kafka, backup = SINKS

    def rows(run, s, state, pairs):
        return [(run, s, b, k, 1, 1, state, 0.0) for b, k in pairs]

    def commit(path, batch):  # one parquet file per commit, as ManifestedRun.run writes
        local_table(spark, batch, MANIFEST_SCHEMA).coalesce(1).write.mode("append").parquet(path)

    mine = m.input_manifest_dir(sig)
    commit(mine, (
        rows("r1", sig, "committed", [(0, es), (0, kafka), (0, backup), (1, es), (1, kafka),
                                      (2, es), (2, kafka), (3, es), (3, es), (3, kafka)])
        + rows("r1", sig, "discarded", [(2, backup)])
    ))
    commit(mine, (
        rows("r2", sig, "committed", [(0, es), (0, kafka), (0, backup), (1, es), (3, es),
                                      (5, es), (5, kafka), (5, backup)])
        + rows("r2", other, "committed", [(1, backup), (3, backup)])  # a key collision
    ))
    renamed, added = "fluentd_backup_v2", "audit"
    commit(mine, rows("r3", sig, "committed", [(1, renamed), (5, added)]))
    commit(m.input_manifest_dir(other), rows(
        "o1", other, "committed", [(b, k) for b in range(8) for k in SINKS]
    ))
    commit(m.manifest_dir, rows(
        "old", sig, "committed", [(b, k) for b in range(8) for k in SINKS]
    ))

    scans = []
    collect = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: (scans.append(self.inputFiles()), collect(self))[1]
    )
    got = m.committed_buckets(sig, SINKS)
    monkeypatch.undo()

    def want(sinks):
        return [
            b for (b,) in duckdb.execute(
                "SELECT bucket FROM read_parquet(?, hive_partitioning = false) "
                "WHERE input_sig = ? AND state IN ('committed', 'discarded') GROUP BY bucket "
                f"HAVING count(DISTINCT sink) FILTER (WHERE sink IN ({', '.join('?' * len(sinks))})) = ? "
                "ORDER BY bucket",
                [f"{tmp_path}/out/_manifest/input=*/*.parquet", sig, *sinks, len(sinks)],
            ).fetchall()
        ]

    assert got == want(SINKS) == [0, 2, 5]  # bucket 1 has 3 sinks, one not in the config
    assert m.committed_buckets(sig, [es, kafka, renamed]) == want([es, kafka, renamed]) == [1]
    assert m.committed_buckets(sig, SINKS + [added]) == want(SINKS + [added]) == [5]
    assert len(scans) == 1
    assert sorted(scans[0]) == sorted(
        f"file://{mine}/{f}" for f in os.listdir(mine) if f.endswith(".parquet")
    )
    assert len(scans[0]) == 3
    # the inspection view still reads every row: both inputs' and the legacy file's
    assert m.manifest().count() == 11 + 10 + 2 + 24 + 24
