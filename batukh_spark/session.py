"""SparkSession factory with the engine's tuned defaults, the engine's
one plan cut (`materialize`), its job naming (`named_jobs`) and its one
driver-built frame (`arrow_frame`)."""

from __future__ import annotations

import os
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "batukh-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """local[N] session tuned for Arrow-heavy extraction workloads.

    On a real cluster the master/deploy settings come from spark-submit.
    The driver JVM runs C1 only (`-XX:TieredStopAtLevel=1`), because a
    cold training job spent about half its CPU in C2 compiles of planner
    code it runs a few times; on a standalone or YARN master executors
    keep C2, and Spark's own `spark.driver.defaultJavaOptions` in
    `extra_conf` replaces the flag, which restores C2 (a caller's
    `spark.driver.extraJavaOptions` add to it).

    Measured C2 -> C1 on a 4-core host, medians of interleaved pairs:
    a cold capstone pass (`training_batches` + `sft_mix`) 59.2 -> 31.3
    CPU-s over 10 pairs; 18k-turn file-mode extraction 2.39 -> 2.45 s
    wall (+2.6 %, C1 code in the scan, sort and write loops); a
    72k-turn synthesized CLI extraction 19.2 -> 16.5 s wall over 3
    pairs.  A long-lived session running many small jobs pays for C1
    code: the pytest suite took 18-20 % longer over two pairs (its
    in-process tests ~35 %), the 94-query DuckDB gate at sf0.01
    277 -> 281 s in one pair.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches amortize the JVM<->Python crossing for the
        # fused extraction kernel (SURVEY §4: one serialization round-trip).
        # measured: 40k-row batches double kernel throughput vs 10k
        # (~56 MB/batch at ~1.4 KB/turn; sized to stay far under executor
        # memory at 32 concurrent workers)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "40000")
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1")
    )
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        # standalone/yarn master: `cores` caps total executor cores and
        # executors are carved at SPARK_GRAFT_EXECUTOR_CORES each — the
        # N vs 4N executor comparison shape (each executor = own JVM)
        b = (b.master(master)
             .config("spark.cores.max", str(cores))
             .config("spark.executor.cores",
                     os.environ.get("SPARK_GRAFT_EXECUTOR_CORES", "4"))
             .config("spark.executor.memory",
                     os.environ.get("SPARK_GRAFT_EXECUTOR_MEMORY", "6g")))
        # ship the engine to executors exactly like production:
        # spark-submit --py-files <zip> (executors are separate JVMs
        # spawning their own Python workers)
        py_files = os.environ.get("SPARK_GRAFT_PY_FILES")
        if py_files:
            b = b.config("spark.submit.pyFiles", py_files)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        b = b.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


@contextmanager
def named_jobs(spark: SparkSession, name: str):
    """Name the Spark jobs started inside the block: `name`
    ("<module>.<function>:<frame>") becomes their job description and
    `batukh.op`, so the event log says which operator owns them.  Both
    local properties are restored afterwards, also on failure."""
    sc = spark.sparkContext
    keys = ("spark.job.description", "batukh.op")
    old = [sc.getLocalProperty(k) for k in keys]
    for k in keys:
        sc.setLocalProperty(k, name)
    try:
        yield
    finally:
        for k, v in zip(keys, old):
            sc.setLocalProperty(k, v)


def materialize(df: DataFrame, name: str) -> DataFrame:
    """Eager localCheckpoint of `df` into executor storage — the engine's
    one plan cut.  Its jobs are named by `named_jobs`."""
    with named_jobs(df.sparkSession, name):
        return df.localCheckpoint()


def arrow_frame(spark: SparkSession, table: pa.Table) -> DataFrame:
    """The package's one `createDataFrame`: a frame built on the driver
    crosses to the JVM as one Arrow table, a local relation that needs
    no job and no Python worker.  A Python list would be a pickled
    Python RDD, scanned by one Python task per core, and from a second
    worker daemon: Spark keys Python worker pools by environment, and
    a Python RDD's differs from a SQL UDF's."""
    if not isinstance(table, pa.Table):
        raise TypeError(
            f"arrow_frame takes a pyarrow.Table, not {type(table).__name__}")
    return spark.createDataFrame(table)
