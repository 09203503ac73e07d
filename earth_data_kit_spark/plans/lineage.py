"""Per-partition lineage + checkpoint/resume (north_rule: "resumable
from checkpoint with per-partition lineage + metrics").

The reference resumes by file-existence checks (S9, /root/reference/
earth_data_kit/stitching/engines/s3.py:290-303) and re-reads its
catalog CSV between stages (dataset.py:370-385).  Done right on
Spark:

* every stage writes its output partitioned by a stable ``part_key``
  (e.g. cell prefix) to the stage directory — the snapshot;
* a lineage row per partition — (job_id, stage, part_key, row_count,
  checksum, wall clock) — is computed by ``commit_stage`` after the
  write, with one groupBy (count + xor-of-hash checksum: order-
  insensitive and distributable) over a re-read of the partitions
  that write produced, so the checksum covers what landed on disk;
* ``resume_filter`` anti-joins the completed part_keys from the
  lineage table so a restarted job processes only missing partitions
  (the existence-skip semantic, but transactional: a partition is
  "done" only if its lineage row committed);
* ``checkpoint_stage`` is a job stage's whole checkpoint step:
  resume-filter, commit, re-read the stage directory.  There is no
  emptiness probe before the write (it would run the stage's plan,
  Python UDFs included, a second time): a fully committed stage
  still runs its write once, observes no keys, and appends nothing;
* the bookkeeping frames — the empty completed-keys frame of a fresh
  base, the keys written by this call, the empty lineage frame of a
  fully committed stage — are planned in the JVM (``range(0)``, an
  ``isin`` filter), never built from a Python list, so lineage starts
  no PythonRDD job and runs no Python.

Iceberg would give this via snapshot atomicity; the sandbox has no
Iceberg jar, so the same semantics run on parquet + a lineage parquet
(the seam is this module — swap writes to ``writeTo(...)`` when the
catalog is Iceberg, SURVEY.md §7.4-6).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "job_id string, stage string, part_key bigint, row_count bigint, "
    "checksum bigint, wall_ms bigint, committed_at timestamp"
)


def partition_lineage(df: DataFrame, part_key: str, cols: list[str] | None = None) -> DataFrame:
    """(part_key, row_count, checksum) per partition key — checksum is
    xor of per-row xxhash64 over ``cols`` (order-insensitive, computed
    map-side)."""
    hash_cols = cols or df.columns
    # part_key is bigint in LINEAGE_SCHEMA whatever the key column's
    # type: lineage files of int- and bigint-keyed stages share one
    # directory, and a reader that infers the schema from an int file
    # fails on the bigint ones
    return df.groupBy(F.col(part_key).cast("bigint").alias("part_key")).agg(
        F.count("*").alias("row_count"),
        # xor-aggregate via sum of (h mod 2^32 halves) is not xor; use
        # bit_xor aggregate (Spark 3.x: bit_xor)
        F.expr(f"bit_xor(xxhash64({', '.join(hash_cols)}))").alias("checksum"),
    )


def commit_stage(
    df: DataFrame,
    base_dir: str,
    job_id: str,
    stage: str,
    part_key: str,
    lineage_cols: list[str] | None = None,
) -> DataFrame:
    """Write stage output + lineage rows; returns the lineage df.

    Output layout: ``{base}/{stage}/data`` (partitioned by part_key)
    and ``{base}/lineage`` (append).  The data write completes before
    lineage commits — a crash between the two re-runs the partition,
    never skips it.  ``df`` is executed exactly once, by the write.
    If that write observed no keys (everything was already committed)
    no partition changed, nothing is appended, and the returned
    lineage df is empty.
    """
    from pyspark.sql import Observation

    t0 = time.time()
    out = f"{base_dir}/{stage}/data"
    # DYNAMIC overwrite is load-bearing for resume: Spark's default
    # STATIC mode truncates the whole {stage}/data directory, so a
    # partial resume (resume_filter passed only the missing
    # partitions) would delete every previously committed partition
    # while lineage still marks them done.  Dynamic mode replaces
    # only the partitions present in ``df``.
    #
    # The keys written THIS call are collected DURING the write pass
    # via an Observation (collect_set over the bounded partition-key
    # column) — a plain df.select(key).distinct() afterwards would
    # re-execute the whole upstream plan a second time (e.g. re-run
    # the fused extract+geocode UDF over the ingest table: the most
    # expensive stage would pay twice — code-review r3 finding).
    obs = Observation(f"lineage_keys_{stage}")
    observed = df.observe(obs, F.collect_set(F.col(part_key)).alias("keys"))
    (
        observed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_key)
        .parquet(out)
    )
    spark = df.sparkSession
    keys = sorted(obs.get["keys"])
    if not keys:
        print(f"[{job_id}] {stage}: all partitions committed, nothing written")
        return _empty(spark, LINEAGE_SCHEMA)
    # lineage only for the partitions written THIS call — the re-read
    # of {out} filtered to the observed keys.  Deriving "new" as
    # disk-minus-already-in-lineage instead would (a) give a
    # re-committed partition NO fresh row (stale row_count/checksum
    # while dynamic overwrite changed the data) and (b) attribute
    # partitions a DIFFERENT job sharing base_dir had written to this
    # job.  Re-reading from disk (rather than hashing
    # ``df`` directly) keeps the checksum computed over what actually
    # landed; the key set is bounded, and the ``isin`` filter on the
    # partition column prunes the re-read to those directories.  A
    # re-commit appends a second lineage row for the key — readers
    # wanting current metrics take the latest committed_at per
    # (job_id, stage, part_key); resume semantics (key-existence) are
    # unaffected.
    written = spark.read.parquet(out).where(F.col(part_key).isin(keys))
    lin = (
        partition_lineage(written, part_key, lineage_cols)
        .withColumn("job_id", F.lit(job_id))
        .withColumn("stage", F.lit(stage))
        .withColumn("wall_ms", F.lit(int((time.time() - t0) * 1000)).cast("bigint"))
        .withColumn("committed_at", F.current_timestamp())
        .select("job_id", "stage", "part_key", "row_count", "checksum", "wall_ms", "committed_at")
    )
    lin.write.mode("append").parquet(f"{base_dir}/lineage")
    return lin


def _empty(spark: SparkSession, ddl: str) -> DataFrame:
    """A zero-row DataFrame of schema ``ddl``, planned in the JVM (a
    Python-list ``createDataFrame`` runs a PythonRDD job when read)."""
    cols = (c.split() for c in ddl.split(", "))
    return spark.range(0).select([F.lit(None).cast(t).alias(name) for name, t in cols])


def completed_partitions(spark: SparkSession, base_dir: str, job_id: str, stage: str) -> DataFrame:
    path = f"{base_dir}/lineage"
    if not os.path.exists(path):
        return _empty(spark, "part_key bigint")
    lin = spark.read.parquet(path)
    return (
        lin.where((F.col("job_id") == job_id) & (F.col("stage") == stage))
        .select("part_key")
        .distinct()
    )


def resume_filter(df: DataFrame, base_dir: str, job_id: str, stage: str, part_key: str) -> DataFrame:
    """Drop partitions already committed (anti-join on lineage) — the
    restart path; idempotent by construction."""
    done = completed_partitions(df.sparkSession, base_dir, job_id, stage)
    return df.join(
        F.broadcast(done.withColumnRenamed("part_key", part_key)), part_key, "left_anti"
    )


def checkpoint_stage(
    df: DataFrame,
    base_dir: str,
    job_id: str,
    stage: str,
    part_key: str,
    lineage_cols: list[str] | None = None,
    build: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """One resumable job stage: commit the partitions of ``df`` not yet
    committed for (job_id, stage), then return the whole stage output
    re-read from ``{base_dir}/{stage}/data`` (earlier commits included).

    ``build``, if given, maps the not-yet-committed rows of ``df`` to
    the stage output (keeping ``part_key``).  Filtering BEFORE it keeps
    committed partitions out of a non-deterministic UDF, which the
    optimizer will not push the anti-join below.

    ``resume_filter`` and ``commit_stage`` are looked up at call time
    and called positionally, so wrappers installed on this module (span
    markers that read ``stage`` from the 4th argument) see every stage.
    """
    todo = resume_filter(df, base_dir, job_id, stage, part_key)
    commit_stage(build(todo) if build else todo, base_dir, job_id, stage, part_key, lineage_cols)
    return df.sparkSession.read.parquet(f"{base_dir}/{stage}/data")
