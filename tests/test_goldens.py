"""Engine output vs the frozen golden parquet (goldens/, generated by
scripts/make_goldens.py from the independent single-node oracles).
Comparisons are order-insensitive (exceptAll both ways empty) except
kNN, keyed on (query_id, rank) — FIXTURES.md conventions."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from earth_data_kit_spark.functions.columns import cell_id_col
from earth_data_kit_spark.operators import spatial_join as sj
from earth_data_kit_spark.operators.knn import knn_brute_force
from earth_data_kit_spark.sources.pages import pages_meta_df, synth_pages_df
from earth_data_kit_spark.text.extract import extract_text, text_sha256

SF = "/root/testdata/sf0.001"
GOLD = Path(__file__).resolve().parent.parent / "goldens"

CONCAVE = ("CC", "POLYGON ((0 0, 30 0, 30 10, 10 10, 10 30, 30 30, 30 40, 0 40, 0 0))")
HOLED = (
    "HH",
    "POLYGON ((-60 -20, -20 -20, -20 20, -60 20, -60 -20), (-45 -5, -35 -5, -35 5, -45 5, -45 -5))",
)


def assert_same(df, golden_df):
    assert df.exceptAll(golden_df).isEmpty(), "engine rows not in golden"
    assert golden_df.exceptAll(df).isEmpty(), "golden rows missing from engine"


def test_extracted_text_golden(spark):
    golden = spark.read.parquet(str(GOLD / "extracted_text.parquet"))
    rows = synth_pages_df(spark, SF).select("page_id", "url", "html").collect()
    got = spark.createDataFrame(
        [(r.page_id, r.url, text_sha256(extract_text(r.html))) for r in rows],
        golden.schema,
    )
    assert_same(got, golden)


def test_pip_rows_golden(spark):
    golden = spark.read.parquet(str(GOLD / "pip_rows.parquet"))
    pages = pages_meta_df(spark, SF)
    polys = [
        sj.Polygon(code=c, name=n, bbox=(a, b, x, y)) for c, n, a, b, x, y in em.COUNTRIES
    ] + [sj.Polygon(code=c, name=c, wkt=w) for c, w in (CONCAVE, HOLED)]
    got = sj.pip_join(pages, polys, res=em.CELL_RES).select("page_id", "cell", "code")
    assert_same(got, golden)


def test_knn_rows_golden(spark):
    golden = {(r.query_id, r.rank): (r.page_id, r.dist_m) for r in
              spark.read.parquet(str(GOLD / "knn_rows.parquet")).collect()}
    pages = pages_meta_df(spark, SF)
    got = knn_brute_force(pages, em.KNN_QUERIES, k=5).collect()
    assert len(got) == len(golden)
    for r in got:
        gp, gd = golden[(r.query_id, r.rank)]
        assert r.page_id == gp
        assert abs(r.dist_m - gd) < 1e-6


def test_assignment_and_clip_goldens(spark):
    from earth_data_kit_spark.operators import assign
    import __spark_entry__ as e

    golden_a = spark.read.parquet(str(GOLD / "assignments_modis.parquet"))
    tiles = assign.explode_bands(e._modis_catalog(spark))
    a = assign.tile_assignments(tiles).withColumn(
        "date", F.date_format("date", "yyyy-MM-dd")
    ).select(
        "date", "band", "tile_name", "src_xoff", "src_yoff",
        "dst_xoff", "dst_yoff", "xsize", "ysize", "mosaic_xsize", "mosaic_ysize",
    )
    # golden tiles are named bare (h19v04); catalog uses the same names
    assert_same(a, golden_a.select(*a.columns))

    golden_c = spark.read.parquet(str(GOLD / "clips_modis.parquet"))
    from earth_data_kit_spark.grid import transform

    c = assign.clip_windows(
        assign.tile_assignments(tiles), e.ALBANIA_BBOX, transform.SINUSOIDAL
    ).withColumn("date", F.lit("2017-01-01")).select(
        "date", "band", "xoff", "yoff", "xsize", "ysize", "out_origin_x", "out_origin_y"
    )
    got = {tuple(r) for r in c.collect()}
    exp = {tuple(r) for r in golden_c.collect()}
    assert got == exp


def test_band_groups_golden(spark):
    from earth_data_kit_spark.operators import assign
    import __spark_entry__ as e

    golden = spark.read.parquet(str(GOLD / "band_groups.parquet"))
    tiles = assign.explode_bands(e._modis_catalog(spark))
    cfg = assign.band_configs(tiles).select(
        "source_idx", "description", "dtype", "x_res", "y_res", "crs",
        F.col("n_tiles").cast("bigint").alias("n_tiles"), "tiles",
    )
    # tile names in the catalog are bare tile ids
    got = {tuple((*r[:7], tuple(r[7]))) for r in cfg.collect()}
    exp = {tuple((*r[:7], tuple(r[7]))) for r in golden.select(*cfg.columns).collect()}
    assert got == exp
