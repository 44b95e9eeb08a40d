"""SparkSession factory with scale-aware defaults.

The reference's control plane (coordinator RPC scheduler, worker poll
loop, nReduce knob — /root/reference/internal/coordinator/coordinator.go:44-210,
worker.go:50-72) collapses into SparkSession configuration: the
DAGScheduler is the coordinator, executors are the workers, and AQE
replaces the static nReduce with runtime-coalesced shuffle partitions.

Local test posture: ``local[N]`` single-JVM. Cluster posture: the same
conf minus master(), submitted with spark-submit; every setting below is
chosen to survive a 1000-executor / 100 TB deployment (AQE on, skew-join
handling on, 128 MiB scan partitions, broadcast threshold tuned).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: The one logger get_spark quiets below WARN (to ERROR).
WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"


def get_spark(
    app_name: str = "dist_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for both local[32] tests and
    large-cluster deployment.

    - AQE enabled: runtime shuffle-partition coalescing, skew-join
      splitting, and dynamic join-strategy switch replace all of the
      reference's static planning (its nReduce knob and the fixed
      two-stage DAG from SubmitJob, coordinator.go:60-78).
    - Arrow enabled: every pandas-UDF exchange is Arrow-batched.
    - UTC session timezone: required for DuckDB-oracle comparability.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local: ~cores. Cluster: override via spark.sql.shuffle.partitions
        # at submit time (AQE coalesces downward from this initial value,
        # so on a real cluster you set it high, e.g. 2000, and let AQE trim).
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's events.parquet has shipped as TIMESTAMP(NANOS)
        # (which the vectorized reader rejects — read as raw nanos) and
        # as TIMESTAMP(MICROS)/NTZ; sources.tables.normalize_events_ts
        # handles every encoding. Harmless when the file is not nanos.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec warns "No Partition Defined" for every global window;
    # those windows sit over bounded aggregates (pinned by
    # test_global_windows_sit_over_bounded_frames), so the warning is
    # noise that floods bench and gate stderr.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        WINDOW_EXEC_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over ``defaultParallelism`` partitions — the
    one way the package spreads a CPU-bound stage (a GEMM, an encoder,
    the MinHash kernel) whose input arrives as a single split: every
    test and gate parquet file is one row group, so its scan is one
    task however many cores the session has."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
