"""Checkpoint / lineage / resume semantics."""

from pyspark.sql import functions as F

from earth_data_kit_spark.plans import lineage
from earth_data_kit_spark.sources.pages import pages_meta_df

SF = "/root/testdata/sf0.001"


def test_commit_and_resume(spark, tmp_path):
    base = str(tmp_path / "ckpt")
    pages = pages_meta_df(spark, SF).withColumn("part", F.col("page_id") % 4)

    lin = lineage.commit_stage(pages, base, "job1", "geocode", "part")
    rows = {r.part_key: (r.row_count, r.checksum) for r in lin.collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert sum(rc for rc, _ in rows.values()) == pages.count()

    # resume: everything committed → nothing left to do
    remaining = lineage.resume_filter(pages, base, "job1", "geocode", "part")
    assert remaining.count() == 0
    # a different stage is untouched
    other = lineage.resume_filter(pages, base, "job1", "assign", "part")
    assert other.count() == pages.count()


def test_partial_resume_preserves_committed_partitions(spark, tmp_path):
    """The STATIC-overwrite trap: committing the MISSING partitions of
    a resumed job must not delete previously committed partitions'
    data (dynamic partition overwrite), and must not duplicate their
    lineage rows."""
    base = str(tmp_path / "ckpt")
    pages = pages_meta_df(spark, SF).withColumn("part", F.col("page_id") % 4)
    total = pages.count()

    # first run commits only partitions {0, 1} (simulated crash)
    first = pages.where(F.col("part") < 2)
    lineage.commit_stage(first, base, "job1", "geocode", "part")
    assert spark.read.parquet(f"{base}/geocode/data").count() == first.count()

    # resumed run commits the remaining partitions {2, 3}
    todo = lineage.resume_filter(pages, base, "job1", "geocode", "part")
    assert sorted(r.part for r in todo.select("part").distinct().collect()) == [2, 3]
    lin2 = lineage.commit_stage(todo, base, "job1", "geocode", "part")

    # all four partitions' data survive, nothing lost or duplicated
    assert spark.read.parquet(f"{base}/geocode/data").count() == total
    # the second commit wrote lineage ONLY for the new partitions
    assert sorted(r.part_key for r in lin2.collect()) == [2, 3]
    lin_all = spark.read.parquet(f"{base}/lineage")
    per_part = {
        r.part_key: r.n
        for r in lin_all.groupBy("part_key").agg(F.count("*").alias("n")).collect()
    }
    assert per_part == {0: 1, 1: 1, 2: 1, 3: 1}
    assert lin_all.agg(F.sum("row_count")).first()[0] == total


def test_checksum_detects_corruption(spark, tmp_path):
    pages = pages_meta_df(spark, SF).withColumn("part", F.col("page_id") % 2)
    lin1 = lineage.partition_lineage(pages, "part").collect()
    tampered = pages.withColumn(
        "url", F.when(F.col("page_id") == 7, F.lit("evil")).otherwise(F.col("url"))
    )
    lin2 = lineage.partition_lineage(tampered, "part").collect()
    c1 = {r.part_key: r.checksum for r in lin1}
    c2 = {r.part_key: r.checksum for r in lin2}
    assert c1[7 % 2] != c2[7 % 2]
    assert c1[(7 % 2) ^ 1] == c2[(7 % 2) ^ 1]


def test_recommit_gets_fresh_lineage_row_and_foreign_jobs_ignored(spark, tmp_path):
    """ADVICE r2: lineage derives from the keys written THIS call —
    (a) re-committing a partition with changed data appends a fresh
    row (latest committed_at carries the current row_count/checksum);
    (b) partitions another job wrote to the same base_dir are never
    attributed to this job's commit."""
    base = str(tmp_path / "ckpt")
    pages = pages_meta_df(spark, SF).withColumn("part", F.col("page_id") % 4)

    lineage.commit_stage(pages.where(F.col("part") == 0), base, "job1", "s", "part")
    # job2 writes partition 1 into the SAME stage dir (shared base)
    lineage.commit_stage(pages.where(F.col("part") == 1), base, "job2", "s", "part")
    lin = spark.read.parquet(f"{base}/lineage")
    j1 = lin.where(F.col("job_id") == "job1").select("part_key").collect()
    assert {r.part_key for r in j1} == {0}  # partition 1 NOT attributed to job1

    # re-commit partition 0 under job1 with changed data (half rows)
    changed = pages.where((F.col("part") == 0) & (F.col("page_id") % 8 == 0))
    n_changed = changed.count()
    lineage.commit_stage(changed, base, "job1", "s", "part")
    j1rows = (
        spark.read.parquet(f"{base}/lineage")
        .where((F.col("job_id") == "job1") & (F.col("part_key") == 0))
        .orderBy(F.col("committed_at").desc())
        .collect()
    )
    assert len(j1rows) == 2  # fresh row appended, not silently absent
    assert j1rows[0].row_count == n_changed  # latest row reflects the new data


def test_int_and_bigint_keyed_stages_share_lineage(spark, tmp_path):
    """Stages keyed by an int column and by a bigint column append to
    one lineage directory; every file stores part_key as bigint, so
    schema inference from any file reads all of them.  A re-commit of
    a fully committed stage writes nothing and appends no row."""
    import pyarrow.parquet as pq

    base = str(tmp_path / "ckpt")
    pages = pages_meta_df(spark, SF)
    int_keyed = pages.withColumn("part", (F.col("page_id") % 3).cast("int"))
    big_keyed = pages.withColumn("part", (F.col("page_id") % 4).cast("bigint"))
    lineage.commit_stage(int_keyed, base, "job1", "ints", "part")
    lineage.commit_stage(big_keyed, base, "job1", "bigs", "part")

    files = sorted((tmp_path / "ckpt" / "lineage").glob("*.parquet"))
    assert files
    for f in files:
        assert str(pq.read_schema(f).field("part_key").type) == "int64", f
    lin = spark.read.parquet(f"{base}/lineage")
    assert dict(lin.groupBy("stage").count().collect()) == {"ints": 3, "bigs": 4}
    assert lineage.resume_filter(int_keyed, base, "job1", "ints", "part").count() == 0
    assert lineage.resume_filter(big_keyed, base, "job1", "bigs", "part").count() == 0

    todo = lineage.resume_filter(int_keyed, base, "job1", "ints", "part")
    assert lineage.commit_stage(todo, base, "job1", "ints", "part").count() == 0
    assert spark.read.parquet(f"{base}/lineage").count() == 7
    assert spark.read.parquet(f"{base}/ints/data").count() == pages.count()


def test_checkpoint_stage_filters_before_build(spark, tmp_path):
    """checkpoint_stage resume-filters its input before ``build`` and
    returns the whole stage output, earlier commits included; once the
    stage is complete, it never calls ``build`` again."""
    base = str(tmp_path / "ckpt")
    pages = pages_meta_df(spark, SF).withColumn("part", F.col("page_id") % 4)
    total = pages.count()
    lineage.commit_stage(pages.where(F.col("part") == 0), base, "job1", "s", "part")

    seen = []

    def build(todo):
        seen.append(sorted(r.part for r in todo.select("part").distinct().collect()))
        return todo

    out = lineage.checkpoint_stage(pages, base, "job1", "s", "part", build=build)
    assert seen == [[1, 2, 3]]
    assert out.count() == total
    lin = spark.read.parquet(f"{base}/lineage")
    assert sorted(r.part_key for r in lin.collect()) == [0, 1, 2, 3]

    # the stage is now complete for job1: a second call only re-reads
    def never(todo):
        raise AssertionError("built a completed stage")

    assert lineage.checkpoint_stage(pages, base, "job1", "s", "part", build=never).count() == total


def test_commit_returns_and_writes_lineage_schema_types(spark, tmp_path):
    """A non-empty commit's returned lineage frame, and the lineage
    files it appends, carry exactly ``LINEAGE_SCHEMA``'s column types
    (``wall_ms`` is bigint, like the empty frame of a fully committed
    commit)."""
    base = str(tmp_path / "ckpt")
    pages = pages_meta_df(spark, SF).withColumn("part", F.col("page_id") % 4)
    want = [
        (f.name, f.dataType)
        for f in spark.createDataFrame([], lineage.LINEAGE_SCHEMA).schema
    ]
    lin = lineage.commit_stage(pages, base, "job1", "geocode", "part")
    assert lin.count() == 4
    assert [(f.name, f.dataType) for f in lin.schema] == want
    read = spark.read.parquet(f"{base}/lineage")
    assert [(f.name, f.dataType) for f in read.schema] == want


def test_resume_filter_keeps_null_and_uncommitted_keys(spark, tmp_path):
    """The committed keys are one driver-side list without NULL (in an
    ``isin`` list a NULL turns the filter NULL for every uncommitted
    row): with a NULL ``part_key`` among the committed lineage rows,
    ``resume_filter`` drops only the committed keys and keeps the
    uncommitted and the NULL-keyed rows."""
    base = str(tmp_path / "ckpt")
    df = spark.createDataFrame(
        [(1, 0), (2, 1), (3, None), (4, 2), (5, 3), (6, None)], "id long, part long"
    )
    lineage.commit_stage(df.where(F.col("part") < 2), base, "job1", "s", "part")
    spark.createDataFrame(
        [("job1", "s", None, 1, 0, 0, None)], lineage.LINEAGE_SCHEMA
    ).write.mode("append").parquet(f"{base}/lineage")
    keys = [r.part_key for r in spark.read.parquet(f"{base}/lineage").collect()]
    assert sorted(keys, key=lambda k: (k is None, k)) == [0, 1, None]

    assert lineage.completed_partitions(spark, base, "job1", "s") == [0, 1]
    left = lineage.resume_filter(df, base, "job1", "s", "part")
    assert sorted(r.id for r in left.collect()) == [3, 4, 5, 6]
