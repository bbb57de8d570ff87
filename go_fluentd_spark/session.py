"""SparkSession builders.

Local mode is the test harness; the configs are chosen so the same code runs
unchanged on a multi-executor cluster (``spark-submit --py-files``): AQE on
(runtime skew-join + partition coalescing), shuffle partitions sized to the
parallelism level, Arrow enabled for the pandas-UDF slow path, UTC session
time zone so the time-normalization operator (reference
``internal/tagfilters/parser_f.go:121-168``) is deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def build_spark(
    app_name: str = "go_fluentd_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local[N] session. ``cores`` defaults to $SPARK_GRAFT_CPUS or 32.

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
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
