"""The in-process-chmod ``file:`` FileSystem every session binds
(``go_fluentd_spark/jvm/InProcessChmodFileSystem.java``): its jar matches the
committed source, it sets the modes chmod would, a manifested run writes
what stock Hadoop writes, and no write forks ``chmod``."""

import json
import os
import stat
import subprocess
import sys
import types

import pytest
from pyspark.find_spark_home import _find_spark_home

from go_fluentd_spark import session
from go_fluentd_spark.plans.manifest import ManifestedRun
from go_fluentd_spark.session import LOCAL_FS_CLASS, hadoop_fs
from tools import build_jvm

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODES = [0o000, 0o600, 0o644, 0o700, 0o755, 0o777]


@pytest.fixture(scope="module")
def reference(spark, sf_dir, tmp_path_factory):
    """One fresh 8-bucket run in this session."""
    m = ManifestedRun(spark, str(tmp_path_factory.mktemp("fs_ref") / "out"), n_buckets=8)
    m.run(sf_dir)
    return m


def committed(m):
    return sorted(
        (r.sink, r.bucket, r.rows) for r in m.manifest().collect() if r.state == "committed"
    )


def test_jar_holds_the_committed_source():
    """The jar's manifest carries the sha256 of the source it was built
    from; rebuild with ``python tools/build_jvm.py`` after an edit."""
    assert build_jvm.jar_source_sha256() == build_jvm.source_sha256()


def test_set_permission_sets_the_requested_mode(spark, tmp_path):
    """``os.stat`` is the oracle: every mode, on a file and on a directory,
    reads back as requested; a sticky bit takes Hadoop's own path."""
    fs, _ = hadoop_fs(spark, str(tmp_path))
    assert fs.getClass().getName() == LOCAL_FS_CLASS
    FsPermission = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    d, f = tmp_path / "d", tmp_path / "f"
    d.mkdir()
    f.write_bytes(b"x")
    cases = [(p, mode) for p in (f, d) for mode in MODES] + [(d, 0o1777)]
    for p, mode in cases:
        fs.setPermission(hadoop_fs(spark, str(p))[1], FsPermission(f"{mode:03o}"))
        got = stat.S_IMODE(os.stat(p).st_mode)
        os.chmod(p, 0o755)
        assert got == mode, (p.name, oct(mode), oct(got))


def test_running_jvm_gets_the_class_only_if_it_loads_it(spark, monkeypatch):
    """A context rebuilt in a JVM launched without the jar keeps Hadoop's
    own ``file:`` FileSystem instead of one it cannot load."""
    assert session._jvm_loads_local_fs()
    monkeypatch.setattr(session, "LOCAL_FS_CLASS", LOCAL_FS_CLASS + "Missing")
    assert not session._jvm_loads_local_fs()


def test_no_jvm_yet_gets_the_class_only_if_this_call_launches_it(monkeypatch):
    """With no JVM in this process yet, the class is bound only when
    ``build_spark`` launches one with the jar on its class path: not when
    PySpark will attach to a JVM ``spark-submit`` started
    (``PYSPARK_GATEWAY_PORT``), nor when the jar sits inside a zip."""
    monkeypatch.setattr(session, "SparkContext", types.SimpleNamespace(_gateway=None))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert session._jvm_loads_local_fs()
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert not session._jvm_loads_local_fs()
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    zipped = os.path.join(ROOT, "go_fluentd_spark.zip", "go_fluentd_spark", "jvm", "x.jar")
    monkeypatch.setattr(session, "LOCAL_FS_JAR", zipped)
    assert not session._jvm_loads_local_fs()


SUBMITTED = """
import json, sys
from go_fluentd_spark.session import build_spark

spark = build_spark("submitted", cores=1, shuffle_partitions=1)
try:
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)
    spark.range(3).write.parquet(sys.argv[1])
    print(json.dumps({"file_impl": conf.get("fs.file.impl"),
                      "uncached_fs": fs.getClass().getName(),
                      "rows": spark.read.parquet(sys.argv[1]).count()}))
finally:
    spark.stop()
"""


def test_spark_submit_session_keeps_hadoops_file_system(tmp_path):
    """Under ``spark-submit`` the driver JVM runs before Python starts, so
    the jar never reaches its class path: the session binds no class, a
    ``file:`` FileSystem built past Hadoop's cache loads, and a write reads
    back."""
    script = tmp_path / "submitted.py"
    script.write_text(SUBMITTED)
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="512m")
    proc = subprocess.run(
        [os.path.join(_find_spark_home(), "bin", "spark-submit"),
         "--master", "local[1]", "--driver-memory", "512m",
         str(script), str(tmp_path / "out")],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["file_impl"] is None
    assert got["uncached_fs"] != LOCAL_FS_CLASS
    assert got["rows"] == 3


def test_manifested_run_writes_stock_modes_and_checksums(reference):
    """Files 0644 and directories 0755 (Hadoop's umask 022), and every
    parquet file has its ``.crc`` beside it."""
    files = 0
    for d, dirs, names in os.walk(reference.out_dir):
        for name in dirs:
            assert stat.S_IMODE(os.stat(os.path.join(d, name)).st_mode) == 0o755, name
        for name in names:
            assert stat.S_IMODE(os.stat(os.path.join(d, name)).st_mode) == 0o644, name
            if name.endswith(".parquet"):
                files += 1
                assert f".{name}.crc" in names, os.path.join(d, name)
    assert files >= 8


CHILD = """
import json, sys
from go_fluentd_spark.plans.manifest import ManifestedRun
from go_fluentd_spark.session import build_spark

sf_dir, out, extra = sys.argv[1:4]
spark = build_spark("no-fork", cores=2, shuffle_partitions=4,
                    extra_conf={"spark.driver.extraClassPath": extra})
try:
    m = ManifestedRun(spark, out, n_buckets=8)
    fresh, rerun = m.run(sf_dir), m.run(sf_dir)
    rows = [(r.sink, r.bucket, r.rows) for r in m.manifest().collect()
            if r.state == "committed"]
    marker = spark._jvm.java.lang.ClassLoader.getSystemResource("classpath-marker.txt")
    print(json.dumps({"fresh": fresh, "rerun": rerun, "rows": sorted(rows),
                      "caller_classpath_kept": marker is not None}))
finally:
    spark.stop()
"""


def test_fresh_run_forks_no_chmod(sf_dir, tmp_path, reference):
    """A ``chmod`` that always fails, first on PATH: a session from
    ``build_spark`` still commits every bucket of a fresh run with the
    reference's rows, and its rerun skips them all.  The caller's own
    ``extraClassPath`` entry stays on the class path beside the jar."""
    bin_dir, cp_dir = tmp_path / "bin", tmp_path / "cp"
    bin_dir.mkdir()
    cp_dir.mkdir()
    (bin_dir / "chmod").write_text("#!/bin/sh\nexit 1\n")
    (bin_dir / "chmod").chmod(0o755)
    (cp_dir / "classpath-marker.txt").write_text("x")
    env = dict(
        os.environ,
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        PYTHONPATH=ROOT,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, sf_dir, str(tmp_path / "out"), str(cp_dir)],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["fresh"]["buckets"] == 8 and got["fresh"]["skipped"] == 0
    assert got["rerun"]["buckets"] == 0 and got["rerun"]["skipped"] == 8
    assert [tuple(r) for r in got["rows"]] == committed(reference)
    assert got["caller_classpath_kept"]
