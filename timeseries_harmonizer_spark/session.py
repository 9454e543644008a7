"""SparkSession factory.

Defaults tuned for correctness + scale habits: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow on (every pandas UDF is an
Arrow batch transfer), UTC session timezone (the reference treats all
timestamps as UTC — reference harmonizers/__init__.py:337), shuffle
partitions sized to the local core count rather than the 200 default.

Width: a new session runs ``local[SPARK_GRAFT_CPUS]`` with
``SPARK_GRAFT_SHUFFLE`` shuffle partitions; each defaults to the cores this
process may run on. Fetching a running session without a width leaves its
shuffle width alone.

On a real cluster the same factory is used by ``jobs/run_tier.py`` via
``spark-submit --py-files``; only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "timeseries_harmonizer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if shuffle_partitions is None and SparkSession.getActiveSession() is None:
        shuffle_partitions = os.environ.get("SPARK_GRAFT_SHUFFLE") or cores
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cores}]")
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # parquet scans: pushdown + vectorized reader are default-on; keep
        # explicit so a misconfigured cluster profile can't silently disable
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # TIMESTAMP_MICROS (Iceberg's mandated encoding) instead of the
        # deprecated INT96 default: INT96 columns carry NO parquet min/max
        # stats, which would blind the catalog's manifest data skipping
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        # one tier pass generates more than Spark's default of 100 cached
        # classes, so each pass evicted and recompiled about 30 of them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
