"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same config block
is what we would ship to a 1000-executor cluster (AQE, skew-join handling,
partition coalescing) — only ``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding this package, on the Python workers' path so they
# import it wherever the driver runs
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "bq-duckdb-spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    - AQE on: runtime shuffle-partition coalescing + skew-join splitting,
      which is what keeps the same plan viable from sf0.001 to 100 TB.
    - One partitioning policy: every shuffle plans ``shuffle.partitions``
      reducers (the core count, at least 4), and AQE's coalescing floor
      ``minPartitionSize`` is 1 byte, not 1 MB. At 1 MB a few-KB but
      compute-dense shuffle (the wedge join, the per-doc set-similarity
      windows, the capped bucket self-join) packed onto ONE task; now it
      keeps about one task per core, and no operator pins a
      ``repartition``.
    - UTC session timezone: matches DuckDB / BigQuery timestamp semantics
      so date extraction agrees with the correctness oracle.
    - Arrow enabled: vectorized Pandas-UDF path for the ext/ operators.
    - Python workers start from ``pyworker`` (no zip-archive re-reads per
      task) with this package importable.
    """
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    try:
        shuffle_partitions = max(int(str(cpus)), 4)
    except ValueError:
        shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "bq_duckdb_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
        # parquet TIMESTAMP(NANOS) (e.g. events.ts) is otherwise unreadable;
        # loaded as a long of epoch-nanos and converted at the edge.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # build-time-only settings (e.g. the event log for shuffle telemetry)
    # — getOrCreate() ignores these on an already-running session, so
    # callers needing them must be the first to build (tools run
    # standalone and are)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
