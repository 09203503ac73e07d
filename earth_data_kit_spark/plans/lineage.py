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
* ``resume_filter`` drops the completed part_keys — one sorted
  driver-side list read from the lineage table, the same form as the
  keys a commit observes — so a restarted job processes only missing
  partitions (the existence-skip semantic, but transactional: a
  partition is "done" only if its lineage row committed);
* ``checkpoint_stage`` is a job stage's whole checkpoint step and the
  one way a job stage runs: its input plus a ``build``.  It resume-
  filters the input, builds, trims the output to uncommitted keys,
  commits, writes a completion record for (job_id, stage), and
  re-reads the stage directory.  A stage whose record exists is only
  re-read, so a re-run over a fully committed base builds and runs
  none of its stages' plans (no Python UDF, no fit, no write);
* the bookkeeping frames — the keys written by a commit, the empty
  lineage frame of a commit that observed no keys — are planned in
  the JVM (``range(0)``, an ``isin`` filter), never built from a
  Python list, so lineage starts no PythonRDD job and runs no Python.

Iceberg would give this via snapshot atomicity; the sandbox has no
Iceberg jar, so the same semantics run on parquet + a lineage parquet
(the seam is this module — swap writes to ``writeTo(...)`` when the
catalog is Iceberg, SURVEY.md §7.4-6).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earth_data_kit_spark.session import empty_df

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
        return empty_df(spark, LINEAGE_SCHEMA)
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


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop file system, path) for ``path``: local, HDFS and object
    store bases answer the same calls."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def completed_partitions(spark: SparkSession, base_dir: str, job_id: str, stage: str) -> list:
    """The part_keys committed for (job_id, stage), sorted.  A stage
    with no data directory yet reads no lineage.  A NULL key is left
    out: in an ``isin`` list it turns the filter NULL for every
    uncommitted row, which drops them all."""
    path = f"{base_dir}/lineage"
    found = (_fs_path(spark, p) for p in (f"{base_dir}/{stage}/data", path))
    if not all(fs.exists(p) for fs, p in found):
        return []
    done = spark.read.parquet(path).where(
        (F.col("job_id") == job_id) & (F.col("stage") == stage) & F.col("part_key").isNotNull()
    )
    return sorted(r.part_key for r in done.select("part_key").distinct().collect())


def _uncommitted(df: DataFrame, part_key: str, done: list) -> DataFrame:
    """Rows of ``df`` whose key is not in ``done``; a NULL key is never
    committed, so its rows stay."""
    key = F.col(part_key)
    return df.where(key.isNull() | ~key.isin(done)) if done else df


def resume_filter(df: DataFrame, base_dir: str, job_id: str, stage: str, part_key: str) -> DataFrame:
    """Drop partitions already committed — the restart path;
    idempotent by construction."""
    return _uncommitted(df, part_key, completed_partitions(df.sparkSession, base_dir, job_id, stage))


def checkpoint_stage(
    df: DataFrame,
    base_dir: str,
    job_id: str,
    stage: str,
    part_key: str,
    lineage_cols: list[str] | None = None,
    *,
    build: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """One resumable job stage: commit the stage output for the
    partitions of ``df`` not yet committed for (job_id, stage), then
    return the whole stage output re-read from
    ``{base_dir}/{stage}/data`` (earlier commits included).

    A stage already completed for ``job_id`` is only re-read: ``build``
    is not called, so none of its plan is built or run.  Otherwise
    ``build`` maps the not-yet-committed rows of ``df`` to the stage
    output (keeping ``part_key``).  Filtering BEFORE it keeps committed
    partitions out of a non-deterministic UDF, which the optimizer will
    not push a filter below.  A step that needs the whole input (dedup
    representatives, substring spans, fits) reads it from its closure
    instead; the output is trimmed to the uncommitted keys either way.
    The completion record, an empty ``{stage}/_done.{job_id}`` file, is
    written after the lineage append, so it never marks work that has
    no lineage.

    ``resume_filter`` and ``commit_stage`` are looked up at call time
    and called positionally, so wrappers installed on this module (span
    markers that read ``stage`` from the 4th argument) see every stage
    that is built.  The output trim reads the committed keys itself, so
    such a marker fires once per stage.
    """
    spark = df.sparkSession
    fs, record = _fs_path(spark, f"{base_dir}/{stage}/_done.{job_id}")
    if fs.exists(record):
        print(f"[{job_id}] {stage}: all partitions committed, nothing written")
    else:
        todo = resume_filter(df, base_dir, job_id, stage, part_key)
        done = completed_partitions(spark, base_dir, job_id, stage)
        commit_stage(_uncommitted(build(todo), part_key, done), base_dir, job_id, stage, part_key, lineage_cols)
        fs.create(record).close()
    return spark.read.parquet(f"{base_dir}/{stage}/data")
