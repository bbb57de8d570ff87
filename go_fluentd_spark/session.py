"""SparkSession builders.

Local mode is the test harness; the configs are chosen so the same code runs
unchanged on a multi-executor cluster (``spark-submit --py-files``): AQE on
(runtime skew-join + partition coalescing), shuffle partitions sized to the
parallelism level, Arrow enabled for the pandas-UDF slow path, UTC session
time zone so the time-normalization operator (reference
``internal/tagfilters/parser_f.go:121-168``) is deterministic.

Sessions whose JVM this process launches also bind their own local
``file:`` FileSystem, ``jvm/InProcessChmodFileSystem.java``.  The program writes its outputs,
manifests and checkpoints through Hadoop's local FileSystem, which, without
libhadoop, forks ``chmod`` for every file and directory it creates: 96
forks of ~5 ms each per fresh manifested run, ~47 per stream trigger.
The class sets the same modes inside the JVM and writes the same files,
``.crc`` files included; only the checkpoint's ``FileContext`` writes
(12-14 per trigger) still fork.  Rebuild its jar with
``tools/build_jvm.py`` after editing the source.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

#: the ``file:`` FileSystem every session binds, and the jar that holds it
LOCAL_FS_CLASS = "go_fluentd_spark.jvm.InProcessChmodFileSystem"
LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "in-process-chmod-fs.jar"
)


def build_spark(
    app_name: str = "go_fluentd_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local[N] session. ``cores`` defaults to $SPARK_GRAFT_CPUS or 32.

    The ``file:`` binding (``LOCAL_FS_CLASS``) is set only where the driver
    JVM can load it: when this call launches the JVM with the jar on its
    class path, or when a JVM already running here loads the class.  Under
    ``spark-submit`` the JVM is running before Python starts and PySpark
    attaches to it, so the session keeps Hadoop's own ``file:`` FileSystem.

    On a real cluster the same conf block applies minus ``master``;
    ``spark.sql.shuffle.partitions`` should then be ~2-3x total cores (AQE
    coalesces down), and executors get the memory knobs instead of the driver.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # no Python call-site capture: it adds py4j round trips to every
        # DataFrame call of every plan build (a fresh manifested run
        # measured ~7% faster without it); error messages lose the Python
        # line of the failing call.  PySpark reads it once per process
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # GC: measured both ways on the e2e pipeline (BENCH.md) — ParallelGC
        # is ~22% faster at full-box 32 threads but ~30% SLOWER on a pinned
        # 8-core budget; G1 (the JVM default) wins at executor-realistic core
        # counts, so no override here.  Pass it via extra_conf to experiment.
    )
    extra_conf = dict(extra_conf or {})
    # Bigger thread stacks for the driver JVM (inert unless this call
    # actually launches the JVM): Spark's own
    # StreamExecution.isInterruptionException classifies a caught stream
    # error by running a regex over its MESSAGE, and java.util.regex
    # recursion is linear in message length — a long py4j traceback blows
    # the default 1 MiB stream-execution-thread stack (StackOverflowError,
    # observed 3x here; the drain protocol's cooperative stop removes the
    # common trigger, this guards the rest).  Virtual memory only.
    extra_conf.setdefault("spark.driver.extraJavaOptions", "-Xss16m")
    # local[N]: the executors are this JVM, so the driver's class path is
    # theirs.  A caller's class path keeps its entries; the jar is added.
    cp = extra_conf.get("spark.driver.extraClassPath")
    extra_conf["spark.driver.extraClassPath"] = (
        f"{cp}{os.pathsep}{LOCAL_FS_JAR}" if cp else LOCAL_FS_JAR
    )
    if _jvm_loads_local_fs():
        extra_conf["spark.hadoop.fs.file.impl"] = LOCAL_FS_CLASS
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _jvm_loads_local_fs() -> bool:
    """Whether the driver JVM can load ``LOCAL_FS_CLASS``.  With no JVM yet,
    true when this call launches one with the jar on its class path: not
    when ``spark-submit`` started it (PySpark attaches through
    ``PYSPARK_GATEWAY_PORT`` and a class path set from Python never reaches
    it), nor when the package is imported from a zip (the jar is then no
    file).  A JVM already running was launched by whoever first built a
    context, perhaps without the jar, and binding a class it cannot load
    would fail every local file operation Hadoop's FileSystem cache does
    not happen to hide."""
    gateway = SparkContext._gateway
    if gateway is None:
        return "PYSPARK_GATEWAY_PORT" not in os.environ and os.path.isfile(LOCAL_FS_JAR)
    try:
        gateway.jvm.java.lang.Class.forName(LOCAL_FS_CLASS)
    except Py4JError:
        return False
    return True


def local_table(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A driver-built table (``rows`` against the DDL schema ``ddl``) as a
    LocalRelation: the rows ride in the plan, so using it runs no Python.
    ``createDataFrame`` of a list plans a LogicalRDD of pickled rows
    instead, and every use of it (a broadcast, a write) runs Python tasks
    to unpickle them; an Arrow table takes the local path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, qualified Path) of ``path``, local or URI: every
    filesystem check of an output or manifest directory goes through here,
    so a ``file://`` or ``hdfs://`` location behaves like a local path."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(jpath)


def list_dir(spark: SparkSession, path: str, pattern: str = "*") -> list:
    """The Hadoop ``FileStatus`` entries directly under ``path`` whose names
    match the glob ``pattern``; ``[]`` when ``path`` does not exist.  The
    JVM applies the pattern, so the entries that do not match cost no
    py4j round trip (a streaming table gains one ``batch_id=N`` entry per
    trigger)."""
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    return list(fs.listStatus(jpath, spark._jvm.org.apache.hadoop.fs.GlobFilter(pattern)))


def holds_parquet(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` holds a parquet file directly (not in a
    subdirectory)."""
    return any(f.isFile() for f in list_dir(spark, path, "*.parquet"))


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable confs our operators depend on.

    The driver runs ``queries()`` under its own session; time formatting and
    Arrow behavior must not depend on how that session was built.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
