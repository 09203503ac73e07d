"""COG as a distributed source (sources/cog.py): export_cog output
read back through cog_tile_index → cog_decode_blocks, pixel-exact
against the mosaic, with Catalyst window pruning on the metadata
index.  Reference analog: the GDAL block-window read path
(xarray_boosted/entrypoint.py:95-133), rebuilt as an explicit
index-then-decode Spark pipeline."""

import numpy as np
import pytest

from earth_data_kit_spark.operators import gtiff
from earth_data_kit_spark.operators.blocks import synth_blocks_df
from earth_data_kit_spark.sources.cog import (
    cog_decode_blocks,
    cog_scan,
    cog_tile_index,
)


def _assemble(rows, w, h, dtype):
    """Reassemble decoded blocks rows into one (h, w) array."""
    out = np.full((h, w), -1, dtype=dtype)
    for r in rows:
        a = np.frombuffer(r["payload"], dtype=dtype).reshape(r["ysize"], r["xsize"])
        out[r["yoff"]: r["yoff"] + r["ysize"], r["xoff"]: r["xoff"] + r["xsize"]] = a
    return out


def _synth_expected(w, h):
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    return ((x * 31 + y * 17) % 30000).astype(np.int16)


@pytest.fixture()
def cog_file(spark, tmp_path):
    w = h = 300  # non-divisible by 128 → edge tiles exercise clipping
    blocks = synth_blocks_df(spark, w, h, 128, band="B1", scale=1.0,
                             nodata_stripe=False)
    path = str(tmp_path / "src.tif")
    gtiff.export_cog(blocks, path, w, h, tile=128, nodata=32767.0,
                     compression="deflate", overviews=1)
    return path, w, h


def test_index_is_metadata_only(spark, cog_file):
    path, w, h = cog_file
    idx = cog_tile_index(spark, path)
    rows = idx.collect()
    # 3x3 tile grid at 128px over 300px
    assert len(rows) == 9
    r = {(x.tx, x.ty): x for x in rows}
    assert r[(0, 0)].xsize == 128 and r[(2, 2)].xsize == 300 - 256
    assert all(x.dtype == "int16" and x.compression == 8 for x in rows)
    assert all(x.byte_count > 0 for x in rows)
    # edge tile clipped in metadata, full tile size preserved
    assert r[(2, 0)].tile_w == 128 and r[(2, 0)].xsize == 44


def test_roundtrip_pixel_exact(spark, cog_file):
    path, w, h = cog_file
    got = cog_scan(spark, path).collect()
    assert len(got) == 9
    arr = _assemble([r.asDict() for r in got], w, h, np.int16)
    np.testing.assert_array_equal(arr, _synth_expected(w, h))
    # schema is the standard blocks schema → downstream ops compose
    from earth_data_kit_spark.operators.blocks import BLOCK_SCHEMA
    names = [f.split()[0] for f in BLOCK_SCHEMA.split(", ")]
    assert [f.name for f in cog_scan(spark, path).schema.fields] == names


def test_window_prune_decodes_only_surviving_tiles(spark, cog_file):
    path, w, h = cog_file
    # window entirely inside tile (1,1)
    df = cog_scan(spark, path, window=(140, 140, 50, 50))
    rows = df.collect()
    assert {(r.block_x, r.block_y) for r in rows} == {(1, 1)}
    a = np.frombuffer(rows[0].payload, dtype=np.int16).reshape(128, 128)
    exp = _synth_expected(w, h)
    np.testing.assert_array_equal(a, exp[128:256, 128:256])
    # spanning window → 4 tiles
    assert cog_scan(spark, path, window=(100, 100, 60, 60)).count() == 4


def test_overview_level_scan(spark, cog_file):
    path, w, h = cog_file
    lvl = cog_scan(spark, path, level=1).collect()
    ow, oh = -(-w // 2), -(-h // 2)
    arr = _assemble([r.asDict() for r in lvl], ow, oh, np.int16)
    # overview is the 2x2-mean downsample written by export_cog:
    # spot-check interior pixels against the numpy oracle
    exp = _synth_expected(w, h).astype(np.float64)
    for (oy, ox) in ((0, 0), (10, 20), (100, 100), (149, 140)):
        block = exp[2 * oy: 2 * oy + 2, 2 * ox: 2 * ox + 2]
        assert arr[oy, ox] == pytest.approx(block.mean(), abs=1.0)


def test_multiband_planar_roundtrip(spark, tmp_path):
    w = h = 128
    tiles = {}
    rng = np.random.default_rng(7)
    planes = {b: rng.integers(0, 1000, (h, w)).astype(np.int16) for b in range(2)}
    for b in range(2):
        tiles[(b, 0, 0)] = planes[b]
    p = str(tmp_path / "mb.tif")
    gtiff.write_gtiff(p, tiles, w, h, 128, 128, dtype="int16", n_bands=2)
    rows = cog_scan(spark, p).collect()
    assert {r.band for r in rows} == {"B1", "B2"}
    for r in rows:
        b = int(r.band[1:]) - 1
        a = np.frombuffer(r.payload, dtype=np.int16).reshape(h, w)
        np.testing.assert_array_equal(a, planes[b])


def test_decode_plan_is_map_only(spark, cog_file):
    """No shuffle between index and decode — Exchange-free plan."""
    path, _, _ = cog_file
    idx = cog_tile_index(spark, path).where("xoff < 200")
    plan = cog_decode_blocks(idx)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.parametrize("dtype", ["uint16", "int8", "uint32"])
def test_block_operators_read_every_writer_dtype(spark, tmp_path, dtype):
    """Every sample type the GeoTIFF writer emits decodes in the block
    operators: a cog_scan of a uint16 / int8 / uint32 file runs
    block_mean, windowed_read and focal_map(fn='mean') against numpy
    (the block layer once knew only five dtype names)."""
    from earth_data_kit_spark.operators import blocks as B
    from earth_data_kit_spark.operators.focal import focal_map

    w = h = 256
    info = np.iinfo(dtype)
    x, y = np.meshgrid(np.arange(w, dtype=np.int64), np.arange(h, dtype=np.int64))
    a = ((x * 16777259 + y * 40503) % (int(info.max) - int(info.min) + 1) + int(info.min)).astype(dtype)
    assert a.min() < 0 or a.max() > np.iinfo(np.int16).max  # outside int16
    tiles = {(tx, ty): a[ty * 128:(ty + 1) * 128, tx * 128:(tx + 1) * 128]
             for ty in range(2) for tx in range(2)}
    path = str(tmp_path / f"{dtype}.tif")
    gtiff.write_gtiff(path, tiles, w, h, 128, 128, dtype=dtype)
    blocks = cog_scan(spark, path).cache()
    try:
        (m,) = B.block_mean(blocks).collect()
        assert m["n_valid"] == w * h
        assert m["mean"] == pytest.approx(a.astype(np.float64).mean(), rel=1e-12)

        win = (100, 90, 120, 100)  # crosses all four tiles
        got = B.assemble_window(B.windowed_read(blocks, *win), win[2], win[3])
        assert np.array_equal(got, a[90:190, 100:220].astype(np.float32))

        rows = focal_map(blocks, (w, h), 128, "mean").collect()
        mean = np.full((h, w), np.nan, dtype=np.float32)
        for r in rows:
            mean[r["yoff"]: r["yoff"] + r["ysize"], r["xoff"]: r["xoff"] + r["xsize"]] = (
                np.frombuffer(r["payload"], dtype=np.float32).reshape(r["ysize"], r["xsize"])
            )
        padded = np.pad(a.astype(np.float64), 1, mode="edge")
        exp = np.lib.stride_tricks.sliding_window_view(padded, (3, 3)).mean(axis=(2, 3))
        np.testing.assert_allclose(mean, exp.astype(np.float32), rtol=1e-6)
    finally:
        blocks.unpersist()
