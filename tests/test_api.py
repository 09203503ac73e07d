"""Dataset façade: the reference's user workflow (construct → bounds
→ discover → get_bands → mosaic → clip → save) end to end against
the golden MODIS numbers."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from earth_data_kit_spark.api import Dataset
from earth_data_kit_spark.grid import transform
from earth_data_kit_spark.sources import stac
from earth_data_kit_spark.sources.catalog import Catalog

ALBANIA = em.ALBANIA_BBOX


@pytest.fixture()
def grid(spark):
    return spark.createDataFrame(
        [
            ("19", "04", 11.54, 39.99, 26.08, 50.0),
            ("19", "05", 10.0, 29.99, 22.5, 40.0),
            ("20", "04", 26.0, 39.99, 43.0, 50.0),
            ("18", "04", -3.0, 39.99, 11.53, 50.0),
            ("10", "10", -100.0, -20.0, -90.0, -10.0),
        ],
        "h string, v string, minx double, miny double, maxx double, maxy double",
    )


def test_dataset_discover_s3_template(spark, grid):
    ds = (
        Dataset("modis", "s3://modis/{h}/{v}/%Y%j/t_h{h}v{v}.tif", engine="s3")
        .set_timebounds("2017-01-01", "2017-01-02")
        .set_spacebounds(ALBANIA, grid_dataframe=grid, matching_vars=["h", "v"])
    )
    rows = ds.discover(spark).collect()
    # 2 intersecting grid cells × 2 days, tokens spliced
    assert len(rows) == 4
    paths = {r.search_path for r in rows}
    assert "s3://modis/19/04/2017001/t_h19v04.tif" in paths
    assert all("19" in p or "18" not in p for p in paths)


def test_dataset_discover_stac(spark):
    ds = (
        Dataset("m", "https://example-catalog/collections/modis-grid", engine="stac")
        .with_stac_catalog(stac.synth_catalog())
        .set_timebounds("2017-01-01T00:00:00Z", "2017-01-02T00:00:00Z")
        .set_spacebounds(ALBANIA)
    )
    out = ds.discover(spark)
    assert out.count() == 4
    assert set(out.columns) == {"engine_path", "gdal_path", "tile_name", "date"}


def test_dataset_mosaic_clip_save_roundtrip(spark, tmp_path):
    """discover-equivalent metadata → get_bands → mosaic → clip must
    reproduce the golden VRT numbers; save() commits a catalog
    snapshot that time-travels."""
    ds = Dataset("modis", "unused", engine="s3").set_spacebounds(ALBANIA)
    tiles = em._modis_catalog(spark)

    bands = ds.get_bands(tiles)
    assert {r.description for r in bands.collect()} == {
        "Nadir_Reflectance_Band3", "Nadir_Reflectance_Band7",
    }

    asg = ds.mosaic(tiles, ["Nadir_Reflectance_Band3", "Nadir_Reflectance_Band7"])
    placed = {(r.tile_name, int(r.dst_xoff), int(r.dst_yoff)) for r in asg.collect()}
    assert placed == {("h19v04", 0, 0), ("h19v05", 0, 2400)}
    assert {(int(r.mosaic_xsize), int(r.mosaic_ysize)) for r in asg.collect()} == {(2400, 4800)}

    clips = ds.clip(asg, transform.SINUSOIDAL).collect()
    assert {(int(c.xoff), int(c.yoff), int(c.xsize), int(c.ysize)) for c in clips} == {
        (1005, 1754, 480, 735)
    }

    cat = Catalog(str(tmp_path / "cat"))
    s1 = ds.save(cat, asg.select("band", "tile_name", "dst_xoff", "dst_yoff"))
    s2 = ds.save(cat, asg.limit(1).select("band", "tile_name", "dst_xoff", "dst_yoff"))
    assert cat.read(spark, "modis", snapshot=s1).count() == 4
    assert cat.read(spark, "modis", snapshot=s2).count() == 1


def test_dataset_cog_template(spark):
    ds = Dataset("modis", "unused", engine="s3")
    t, layout = ds.to_cog_template(
        spark, 2400, 4800, 2, 2400, 2400,
        em.MODIS_X0 + 0.5 * em.MODIS_RES,
        em.MODIS_X0 + 2399.5 * em.MODIS_RES,
        em.MODIS_Y0 + 0.5 * em.MODIS_RES_Y,
        em.MODIS_Y0 + 4799.5 * em.MODIS_RES_Y,
    )
    assert (t["block_x"], t["block_y"]) == (2432, 2432)
    assert layout.count() == 4


def test_dataset_rejects_unknown_engine():
    with pytest.raises(ValueError, match="unknown engine"):
        Dataset("x", "s", engine="gdal")


def test_dataset_to_dataarray_facade(spark):
    """Dataset.to_dataarray(): the reference's third entry point
    (xarray entrypoint) through the public facade — squeeze semantics
    and values checked at one anchor."""
    from pyspark.sql import functions as F

    from earth_data_kit_spark.operators.blocks import synth_blocks_df

    blocks = synth_blocks_df(
        spark, 64, 64, 32, band="B1", scale=1.0, nodata_stripe=False
    ).withColumn("t", F.lit(0))
    ds = Dataset("facade", "synth://x", engine="s3")
    arr = ds.to_dataarray(blocks, 1, ["B1"], 64, 64)
    out = arr[0, 0, 3:5, 7:9]
    assert out.shape == (2, 2)
    assert out[0, 0] == float((3 * 31 + 7 * 17) % 30000)
    assert arr[0:1, 0:1, 3, 7].shape == (1, 1, 1, 1)


def test_facade_labeled_array_export_cog_and_plot(spark, tmp_path):
    """Round-4 façade verbs: labeled selection, physical COG write
    (incl. deflate pass-through), and the plot surface — all through
    Dataset, the user-facing boundary."""
    import numpy as np
    from pyspark.sql import functions as F

    from earth_data_kit_spark.api import Dataset
    from earth_data_kit_spark.operators.blocks import synth_blocks_df
    from earth_data_kit_spark.operators import gtiff

    ds = Dataset("t", "s3://b/{x}")
    blocks = synth_blocks_df(spark, 128, 128, 64, band="B1", scale=1.0,
                             nodata_stripe=False)
    la = ds.to_labeled_dataarray(
        blocks.withColumn("t", F.lit(0)),
        times=np.array(["2020-01-01"], dtype="datetime64[ns]"),
        bands=["B1"], gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0), x_size=128, y_size=128,
    )
    pt = la.sel(x=5.0, y=2.0)
    # .item(): sel keeps int-key x/y axes (reference asymmetry), so
    # the scalar extraction must not rely on deprecated ndim>0 float()
    assert pt.item() == float((5 * 31 + 2 * 17) % 30000)

    p = str(tmp_path / "o.tif")
    ds.export_cog(blocks, p, 128, 128, tile=64, compression="deflate", overviews=1)
    arr, tags = gtiff.read_gtiff(p)
    assert tags[gtiff.TAG_COMPRESSION] == [8]  # deflate reached the sink
    assert arr[2, 5] == (5 * 31 + 2 * 17) % 30000
    # windowed read + overview level of the written file
    win = gtiff.read_gtiff_window(p, 4, 1, 10, 8)
    assert win.shape == (8, 10) and win[1, 1] == arr[2, 5]
    lv1 = gtiff.read_gtiff_window(p, 0, 0, 64, 64, level=1)
    assert lv1.shape == (64, 64)
    assert lv1[1, 2] == gtiff.downsample_2x2_mean(arr)[1, 2]

    png = ds.plot(la, to_html_path=str(tmp_path / "m.html"))
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert "imageOverlay" in open(tmp_path / "m.html").read()
