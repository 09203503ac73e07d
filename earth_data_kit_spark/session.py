"""SparkSession factory with the engine's standard configuration, and
``empty_df``, the JVM-planned zero-row frame.

Scale posture: these confs are what we'd ship for a 1000-executor
cluster (AQE on, skew-join on, Arrow batches for the UDF layer); the
only local-mode-specific knobs are master/shuffle-partition count,
both overridable by env (SPARK_GRAFT_CPUS) so bench.py can run the
identical job at two parallelism levels for the scaling criterion.

Under spark-submit the master is the submitter's: a driver that
spark-submit started has ``PYSPARK_GATEWAY_PORT`` in its environment
(the JVM it connects to already holds ``--master``), so ``local[cpus]``
is set only for a plain Python driver.  ``SparkConf`` cannot tell the
two apart: under plain Python it also reads a default ``local[*]``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def get_spark(
    app_name: str = "earth_data_kit_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = SparkSession.builder
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(f"local[{cpus}]")
    b = (
        b.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # INT64 micros, not legacy INT96: INT96 writes NO footer
        # min/max, which kills timestamp data skipping (catalog scan,
        # parquet row-group pruning) — and Iceberg forbids INT96 too
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # RocksDB state store (VERDICT r3 task 3): the default
        # HDFS-backed provider keeps EVERY state row on the executor
        # HEAP — at 10¹² distinct text hashes the streaming-dedup
        # state (~32 B/row → tens of TB fleet-wide) cannot live in
        # executor memory.  RocksDB spills state to local disk with a
        # bounded block cache, so state capacity scales with disk,
        # not heap; changelog checkpointing ships per-batch deltas
        # instead of full SST snapshots.  Sizing at scale: SCALE.md
        # §streaming-state.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_df(spark: SparkSession, ddl: str) -> DataFrame:
    """A zero-row DataFrame of schema ``ddl`` (``"a bigint, b double"``),
    planned in the JVM: an empty Python list or pandas frame becomes a
    Python RDD (``Scan ExistingRDD``) that runs a PythonRDD job when
    read."""
    cols = (c.split() for c in ddl.split(", "))
    return spark.range(0).select([F.lit(None).cast(t).alias(name) for name, t in cols])
