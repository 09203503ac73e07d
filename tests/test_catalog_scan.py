"""Catalog manifest-stats data skipping (sources/catalog.py scan):
file pruning from parquet-footer ranges, exactness vs full read,
time travel, and the no-stats fallback."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.sources.catalog import Catalog


@pytest.fixture(scope="module")
def cat_env(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cat_scan")
    cat = Catalog(str(base))
    rng = np.random.default_rng(2)
    pdf = pd.DataFrame(
        {
            "row_id": np.arange(50_000),
            "cell": rng.integers(0, 1_000_000, 50_000),
            "val": rng.normal(size=50_000),
        }
    )
    df = (
        spark.createDataFrame(pdf)
        .repartitionByRange(8, F.col("cell"))
        .sortWithinPartitions("cell")
    )
    snap1 = cat.write(df, "pages", stats_cols=["cell"])
    return cat, snap1, pdf


def test_scan_prunes_files_and_matches_full_read(spark, cat_env):
    cat, snap1, pdf = cat_env
    full = cat.read(spark, "pages")
    n_files = len(full.inputFiles())
    lo, hi = 200_000, 260_000
    scanned = cat.scan(spark, "pages", {"cell": (lo, hi)})
    assert len(scanned.inputFiles()) < n_files  # data skipping happened
    want = pdf[(pdf.cell >= lo) & (pdf.cell <= hi)]
    got = scanned.toPandas().sort_values("row_id").reset_index(drop=True)
    assert len(got) == len(want)
    assert set(got.row_id) == set(want.row_id)


def test_scan_empty_range(spark, cat_env):
    cat, *_ = cat_env
    out = cat.scan(spark, "pages", {"cell": (5_000_000, 6_000_000)})
    assert out.count() == 0
    assert set(out.columns) == {"row_id", "cell", "val"}


def test_scan_time_travel_keeps_old_stats(spark, cat_env):
    cat, snap1, pdf = cat_env
    # second snapshot with shifted keys; old snapshot must still
    # prune and return the ORIGINAL rows
    pdf2 = pdf.assign(cell=pdf.cell + 10_000_000)
    cat.write(
        spark.createDataFrame(pdf2).repartitionByRange(8, F.col("cell")),
        "pages",
        stats_cols=["cell"],
    )
    old = cat.scan(spark, "pages", {"cell": (200_000, 260_000)}, snapshot=snap1)
    assert old.count() == len(pdf[(pdf.cell >= 200_000) & (pdf.cell <= 260_000)])
    cur = cat.scan(spark, "pages", {"cell": (200_000, 260_000)})
    assert cur.count() == 0  # current snapshot's keys all moved


def test_timestamp_stats_commit_and_prune(spark, tmp_path):
    """Timestamp stats serialize as ISO strings — the commit must not
    fail (nor orphan a snapshot) and ISO-string ranges prune."""
    cat = Catalog(str(tmp_path / "ts"))
    df = spark.range(10_000).select(
        F.col("id"),
        F.expr("timestamp'2017-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60)").alias("ts"),
    ).repartitionByRange(4, F.col("ts")).sortWithinPartitions("ts")
    cat.write(df, "events", stats_cols=["ts"])
    full = cat.read(spark, "events")
    out = cat.scan(
        spark, "events", {"ts": ("2017-01-02T00:00:00", "2017-01-02T23:59:59")}
    )
    # string bounds compare against the timestamp column after cast
    n = full.where(
        (F.col("ts") >= "2017-01-02T00:00:00") & (F.col("ts") <= "2017-01-02T23:59:59")
    ).count()
    assert out.count() == n > 0
    assert len(out.inputFiles()) < len(full.inputFiles())
    # no orphaned unreferenced snapshot dirs
    snaps = {p.name for p in (cat.base / "events").glob("snap-*") if p.is_dir()}
    assert snaps == {f"snap-{h['id']}" for h in cat.history("events")}


def test_append_is_o_delta_and_scan_prunes_across_dirs(spark, tmp_path):
    """Append writes ONLY the delta (old snapshot dir untouched), the
    new snapshot lists both dirs, and scan prunes using the merged
    sidecar across old + new files."""
    cat = Catalog(str(tmp_path / "ap"))
    df1 = (
        spark.range(0, 20_000)
        .withColumn("cell", F.col("id"))
        .repartitionByRange(4, F.col("cell"))
        .sortWithinPartitions("cell")
    )
    s1 = cat.write(df1, "t", stats_cols=["cell"])
    dir1 = cat.base / "t" / f"snap-{s1}"
    before = {p.name: p.stat().st_mtime for p in dir1.glob("*.parquet")}
    df2 = (
        spark.range(100_000, 120_000)
        .withColumn("cell", F.col("id"))
        .repartitionByRange(4, F.col("cell"))
        .sortWithinPartitions("cell")
    )
    s2 = cat.write(df2, "t", mode="append", stats_cols=["cell"])
    # O(delta): snapshot-1 files untouched by the append
    after = {p.name: p.stat().st_mtime for p in dir1.glob("*.parquet")}
    assert after == before
    assert cat.read(spark, "t").count() == 40_000
    assert cat.read(spark, "t", snapshot=s1).count() == 20_000
    # scan hits only old-dir files for an old-range query...
    old_rng = cat.scan(spark, "t", {"cell": (5_000, 6_000)})
    assert old_rng.count() == 1_001
    assert all(f"snap-{s1}" in f for f in old_rng.inputFiles())
    # ...and only new-dir files for a new-range query
    new_rng = cat.scan(spark, "t", {"cell": (110_000, 111_000)})
    assert new_rng.count() == 1_001
    assert all(f"snap-{s2}" in f for f in new_rng.inputFiles())


def test_append_without_stats_keeps_new_files(spark, tmp_path):
    """An append committed WITHOUT stats_cols must still be fully
    visible to scan (unlisted files are kept conservatively)."""
    cat = Catalog(str(tmp_path / "ap2"))
    cat.write(
        spark.range(0, 1_000).withColumn("cell", F.col("id")), "t", stats_cols=["cell"]
    )
    cat.write(
        spark.range(500, 1_500).withColumn("cell", F.col("id")), "t", mode="append"
    )
    out = cat.scan(spark, "t", {"cell": (400, 600)})
    # 400-600 from snap1 (201) + 500-600 from snap2 (101)
    assert out.count() == 302


def test_compact_and_expire(spark, tmp_path):
    cat = Catalog(str(tmp_path / "gc"))
    mk = lambda lo: spark.range(lo, lo + 1_000).withColumn("cell", F.col("id"))
    s1 = cat.write(mk(0), "t", stats_cols=["cell"])
    s2 = cat.write(mk(1_000), "t", mode="append", stats_cols=["cell"])
    s3 = cat.write(mk(2_000), "t", mode="append", stats_cols=["cell"])
    assert len(cat.read(spark, "t").inputFiles()) > len(
        cat.read(spark, "t", snapshot=s1).inputFiles()
    )

    # shared-dir safety: expiring s1/s2's ENTRIES must not delete
    # their dirs while s3 (kept) still references them
    expired = cat.expire_snapshots("t", keep_last=1)
    assert expired == [s1, s2]
    assert cat.read(spark, "t").count() == 3_000
    with pytest.raises(KeyError):
        cat.read(spark, "t", snapshot=s1)

    s4 = cat.compact("t", spark, stats_cols=["cell"])
    assert cat.read(spark, "t").count() == 3_000
    assert [h["id"] for h in cat.history("t")] == [s3, s4]
    # now s3's entry expires AND its dirs are unreferenced → deleted
    assert cat.expire_snapshots("t", keep_last=1) == [s3]
    dirs_left = {p.name for p in (cat.base / "t").glob("snap-*") if p.is_dir()}
    assert dirs_left == {f"snap-{s4}"}
    # compacted snapshot still scans with stats
    out = cat.scan(spark, "t", {"cell": (2_500, 2_600)})
    assert out.count() == 101


def test_append_schema_mismatch_raises(spark, tmp_path):
    from earth_data_kit_spark.sources.catalog import Catalog as C

    cat = C(str(tmp_path / "sch"))
    cat.write(spark.range(10).withColumn("cell", F.col("id")), "t")
    bad = spark.range(10).withColumn("cel", F.col("id"))  # typo column
    with pytest.raises(ValueError, match="schema mismatch"):
        cat.write(bad, "t", mode="append")
    badtype = spark.range(10).withColumn("cell", F.col("id").cast("string"))
    with pytest.raises(ValueError, match="schema mismatch"):
        cat.write(badtype, "t", mode="append")
    # matching schema still appends
    cat.write(spark.range(5).withColumn("cell", F.col("id")), "t", mode="append")
    assert cat.read(spark, "t").count() == 15


def test_compact_retries_over_concurrent_append(spark, tmp_path):
    """An append landing between compact's read() and its commit must
    not be dropped: the base-snapshot validation aborts the stale
    commit and the retry compacts the appended state."""
    from earth_data_kit_spark.sources.catalog import Catalog as C

    base = str(tmp_path / "race")
    cat = C(base)
    cat.write(spark.range(0, 100).withColumn("cell", F.col("id")), "t")
    fired = {"done": False}

    class Racy(C):
        def read(self, spark_, table, snapshot=None):
            df = super().read(spark_, table, snapshot)
            if not fired["done"]:
                fired["done"] = True
                C(base).write(
                    spark.range(1_000, 1_050).withColumn("cell", F.col("id")),
                    table,
                    mode="append",
                )
            return df

    s = Racy(base).compact("t", spark)
    assert fired["done"]
    got = cat.read(spark, "t")
    assert got.count() == 150  # append survived the compaction race
    assert len({f.rsplit("/", 2)[-2] for f in got.inputFiles()}) == 1  # one dir


def test_expire_keep_last_zero_rejected(spark, tmp_path):
    from earth_data_kit_spark.sources.catalog import Catalog as C

    cat = C(str(tmp_path / "kl0"))
    cat.write(spark.range(3), "t")
    with pytest.raises(ValueError):
        cat.expire_snapshots("t", keep_last=0)


def test_scan_fails_loudly_on_missing_dir(spark, tmp_path):
    import shutil

    from earth_data_kit_spark.sources.catalog import Catalog as C

    cat = C(str(tmp_path / "gone"))
    s1 = cat.write(spark.range(10).withColumn("cell", F.col("id")), "t", stats_cols=["cell"])
    cat.write(
        spark.range(10, 20).withColumn("cell", F.col("id")), "t", mode="append",
        stats_cols=["cell"],
    )
    shutil.rmtree(cat.base / "t" / f"snap-{s1}")  # simulate racing GC
    with pytest.raises(FileNotFoundError, match="lost data dirs"):
        cat.scan(spark, "t", {"cell": (0, 100)})


def test_scan_without_stats_falls_back(spark, cat_env, tmp_path):
    cat = Catalog(str(tmp_path / "nostats"))
    df = spark.range(1000).withColumn("cell", F.col("id") * 7)
    cat.write(df, "t")  # no stats_cols
    out = cat.scan(spark, "t", {"cell": (70, 140)})
    assert out.count() == 11  # cells 70,77,...,140


def test_compact_rejects_zero_retries(spark, tmp_path):
    from earth_data_kit_spark.sources.catalog import Catalog as C

    cat = C(str(tmp_path / "r0"))
    cat.write(spark.range(3), "t")
    with pytest.raises(ValueError):
        cat.compact("t", spark, max_retries=0)


def test_decimal_stats_round_outward_never_misprune(spark, tmp_path):
    """Advisor r3 (medium): float(Decimal) rounds half-even, which can
    SHRINK a stored max (or inflate a min) and let scan()'s interval
    test prune a file that contains matching rows.  _stat_value must
    round min down / max up so the stored range is a superset."""
    import decimal
    import math

    from earth_data_kit_spark.sources.catalog import _stat_value

    # a decimal that float() rounds DOWN (value > nearest float below)
    cases = [decimal.Decimal("0.1"), decimal.Decimal("123456789.123456789"),
             decimal.Decimal("-0.3"), decimal.Decimal("1e20") + decimal.Decimal("1")]
    for d in cases:
        lo = _stat_value(d, direction=-1)
        hi = _stat_value(d, direction=1)
        assert decimal.Decimal(lo) <= d, (d, lo)
        assert decimal.Decimal(hi) >= d, (d, hi)
        assert math.isfinite(lo) and math.isfinite(hi)
    # non-decimal passthrough unaffected
    assert _stat_value(5, direction=1) == 5
    assert _stat_value("abc") == "abc"


def test_decimal_column_scan_keeps_edge_file(spark, tmp_path):
    """End to end: a file whose decimal max sits just above a float
    boundary must be KEPT for a query range starting at the true max."""
    from earth_data_kit_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    df = spark.createDataFrame(
        [(1, "9.000000000000000000001"), (2, "4.5")],
        "id bigint, v string",
    ).selectExpr("id", "cast(v as decimal(38, 21)) v")
    cat.write(df, "t", stats_cols=["v"])
    # query exactly at the stored max: outward rounding must keep it
    got = cat.scan(spark, "t", ranges={"v": (9.0, 99.0)}).collect()
    assert any(r.id == 1 for r in got)
