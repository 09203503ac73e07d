"""Raster block pipeline vs numpy oracle (R1/R3/A5/F8/F9/J4)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.operators import blocks as B

RX, RY, BLK = 512, 512, 128
NODATA, SCALE = 32767.0, 1e-4


def oracle_raster():
    xg, yg = np.meshgrid(np.arange(RX), np.arange(RY))
    v = ((xg * 31 + yg * 17) % 30000).astype(np.float64)
    v[yg % 97 == 0] = np.nan
    return v * SCALE


@pytest.fixture(scope="module")
def blocks(spark):
    df = B.synth_blocks_df(spark, RX, RY, BLK, nodata=NODATA, scale=SCALE).cache()
    yield df
    df.unpersist()


def test_window_filter_prunes(spark, blocks):
    # a window inside one block touches exactly that block
    assert B.window_filter(blocks, 10, 10, 50, 50).count() == 1
    # spanning a block boundary touches 4
    assert B.window_filter(blocks, 120, 120, 20, 20).count() == 4
    # full raster touches all 16
    assert B.window_filter(blocks, 0, 0, RX, RY).count() == 16


def test_windowed_read_matches_oracle(spark, blocks):
    win = (100, 90, 200, 150)  # crosses block boundaries
    got = B.assemble_window(B.windowed_read(blocks, *win), win[2], win[3])
    exp = oracle_raster()[win[1] : win[1] + win[3], win[0] : win[0] + win[2]].astype(np.float32)
    assert got.shape == exp.shape
    both_nan = np.isnan(got) & np.isnan(exp)
    close = np.isclose(got, exp, rtol=1e-6, equal_nan=False)
    assert (both_nan | close).all()


def test_windowed_read_overhang_clamps(spark, blocks):
    # window overhanging the raster edge (R1 clamp semantics)
    got = B.assemble_window(B.windowed_read(blocks, RX - 50, RY - 40, 100, 100), 100, 100)
    exp = np.full((100, 100), np.nan, dtype=np.float32)
    exp[:40, :50] = oracle_raster()[RY - 40 :, RX - 50 :].astype(np.float32)
    both_nan = np.isnan(got) & np.isnan(exp)
    assert (both_nan | np.isclose(got, exp, rtol=1e-6)).all()


def test_block_mean_matches_oracle(spark, blocks):
    r = B.block_mean(blocks).collect()
    assert len(r) == 1
    exp = np.nanmean(oracle_raster())
    n_exp = int(np.sum(~np.isnan(oracle_raster())))
    assert r[0]["n_valid"] == n_exp
    assert abs(r[0]["mean"] - exp) < 1e-9


def test_block_mean_is_partial_final(spark, blocks):
    plan = B.block_mean(blocks)._jdf.queryExecution().executedPlan().toString()
    # partial+final hash aggregate around the exchange (A5 restated)
    assert plan.count("HashAggregate") >= 2


def test_regrid_bilinear_matches_oracle(spark):
    bl = B.synth_blocks_df(spark, 64, 64, 32, nodata=-1.0, scale=1.0)
    # one dst block covers the whole dst grid: the single-group regrid
    out = B.regrid_bilinear_blocks(bl, (64, 64), (32, 32), dst_block=32).collect()
    assert len(out) == 1
    got = np.array(out[0]["values"], dtype=np.float32).reshape(32, 32)

    xg, yg = np.meshgrid(np.arange(64), np.arange(64))
    full = ((xg * 31 + yg * 17) % 30000).astype(np.float64)
    full[yg % 97 == 0] = np.nan  # the synth nodata stripe
    ys = (np.arange(32) + 0.5) * 2 - 0.5
    xs = (np.arange(32) + 0.5) * 2 - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, 62)
    x0 = np.clip(np.floor(xs).astype(int), 0, 62)
    wy = (ys - y0)[:, None]
    wx = (xs - x0)[None, :]
    exp = (
        full[y0][:, x0] * (1 - wy) * (1 - wx)
        + full[y0][:, x0 + 1] * (1 - wy) * wx
        + full[y0 + 1][:, x0] * wy * (1 - wx)
        + full[y0 + 1][:, x0 + 1] * wy * wx
    ).astype(np.float32)
    both_nan = np.isnan(got) & np.isnan(exp)
    assert (both_nan | np.isclose(got, exp, rtol=1e-6)).all()
    # NaN only where the nodata stripe contributes
    assert np.isnan(exp).any() and not np.isnan(exp).all()


def _bilinear_oracle(full, sw, sh, dw, dh):
    ys = (np.arange(dh) + 0.5) * (sh / dh) - 0.5
    xs = (np.arange(dw) + 0.5) * (sw / dw) - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, sh - 2)
    x0 = np.clip(np.floor(xs).astype(int), 0, sw - 2)
    wy = (ys - y0)[:, None]
    wx = (xs - x0)[None, :]
    return (
        full[y0][:, x0] * (1 - wy) * (1 - wx)
        + full[y0][:, x0 + 1] * (1 - wy) * wx
        + full[y0 + 1][:, x0] * wy * (1 - wx)
        + full[y0 + 1][:, x0 + 1] * wy * wx
    )


def test_combine_blocks_stacks_on_ref_grid(spark):
    """Dataset.combine semantics: band 1 must be the reference's own
    values EXACTLY (identity bilinear is exact at pixel centers),
    band 2 the bilinear-aligned second raster (numpy oracle)."""
    ref = B.synth_blocks_df(spark, 64, 64, 32, nodata=-1.0, scale=1.0, band="REF")
    other = B.synth_blocks_df(spark, 128, 128, 32, nodata=-1.0, scale=1.0, band="B2")
    out = B.combine_blocks(ref, [other], (64, 64), [(128, 128)], dst_block=64).collect()
    by_band = {}
    for r in out:
        a = np.array(r["values"], dtype=np.float32).reshape(r.ysize, r.xsize)
        by_band.setdefault(r.band, np.full((64, 64), np.nan, np.float32))[
            r.yoff : r.yoff + r.ysize, r.xoff : r.xoff + r.xsize
        ] = a
    assert set(by_band) == {"1", "2"}

    xg, yg = np.meshgrid(np.arange(64), np.arange(64))
    ref_full = ((xg * 31 + yg * 17) % 30000).astype(np.float64)
    ref_full[yg % 97 == 0] = np.nan
    got1, exp1 = by_band["1"], ref_full.astype(np.float32)
    nan1 = np.isnan(got1) & np.isnan(exp1)
    assert (nan1 | (got1 == exp1)).all()  # identity regrid is EXACT

    xg2, yg2 = np.meshgrid(np.arange(128), np.arange(128))
    full2 = ((xg2 * 31 + yg2 * 17) % 30000).astype(np.float64)
    full2[yg2 % 97 == 0] = np.nan
    exp2 = _bilinear_oracle(full2, 128, 128, 64, 64)
    got2 = by_band["2"]
    nan2 = np.isnan(got2) & np.isnan(exp2)
    assert (nan2 | np.isclose(got2, exp2, rtol=1e-6)).all()

    # reference's method-contract parity
    with pytest.raises(ValueError, match="method list"):
        B.combine_blocks(ref, [other], (64, 64), [(128, 128)], method=["linear", "linear"])
    with pytest.raises(TypeError):
        B.combine_blocks(ref, [other], (64, 64), [(128, 128)], method=42)


@pytest.mark.parametrize("dst", [(96, 64), (256, 320)])  # down- and up-sample
def test_regrid_halo_exchange_matches_oracle(spark, dst):
    """Cross-tile regrid: the mosaic (4×4 blocks of 32, i.e. 16
    'tiles') is regridded per DST block via halo exchange — no group
    ever assembles the full raster.  Oracle: numpy bilinear over the
    assembled source, NaN stripes included."""
    sw = sh = 128
    dw, dh = dst
    bl = B.synth_blocks_df(spark, sw, sh, 32, nodata=-1.0, scale=1.0)
    out = B.regrid_bilinear_blocks(bl, (sw, sh), (dw, dh), dst_block=48).collect()

    got = np.full((dh, dw), np.nan, dtype=np.float64)
    seen = set()
    for r in out:
        key = (r.dst_bx, r.dst_by)
        assert key not in seen, "duplicate dst block"
        seen.add(key)
        a = np.array(r["values"], dtype=np.float32).reshape(r.ysize, r.xsize)
        got[r.yoff : r.yoff + r.ysize, r.xoff : r.xoff + r.xsize] = a
    # full dst coverage
    assert len(seen) == -(-dw // 48) * -(-dh // 48)

    xg, yg = np.meshgrid(np.arange(sw), np.arange(sh))
    full = ((xg * 31 + yg * 17) % 30000).astype(np.float64)
    full[yg % 97 == 0] = np.nan
    exp = _bilinear_oracle(full, sw, sh, dw, dh)
    both_nan = np.isnan(got) & np.isnan(exp)
    assert (both_nan | np.isclose(got, exp, rtol=1e-6)).all()
    assert np.isnan(exp).any() and not np.isnan(exp).all()


def _nearest_oracle(full, sw, sh, dw, dh):
    ys = (np.arange(dh) + 0.5) * (sh / dh) - 0.5
    xs = (np.arange(dw) + 0.5) * (sw / dw) - 0.5
    yi = np.clip(np.rint(ys).astype(int), 0, sh - 1)
    xi = np.clip(np.rint(xs).astype(int), 0, sw - 1)
    return full[yi][:, xi]


def test_regrid_nearest_matches_oracle_and_identity(spark):
    """method='nearest': nearest src pixel center — categorical-safe
    (every output value IS a source value, no blending), identity
    regrid exact."""
    bl = B.synth_blocks_df(spark, 64, 64, 32, nodata=-1.0, scale=1.0)
    out = B.regrid_bilinear_blocks(bl, (64, 64), (48, 48), dst_block=48, method="nearest").collect()
    assert len(out) == 1
    got = np.array(out[0]["values"], dtype=np.float32).reshape(48, 48)

    xg, yg = np.meshgrid(np.arange(64), np.arange(64))
    full = ((xg * 31 + yg * 17) % 30000).astype(np.float64)
    full[yg % 97 == 0] = np.nan
    exp = _nearest_oracle(full, 64, 64, 48, 48).astype(np.float32)
    both_nan = np.isnan(got) & np.isnan(exp)
    assert (both_nan | (got == exp)).all()
    assert np.isin(got[~np.isnan(got)], full[~np.isnan(full)]).all()

    ident = B.regrid_bilinear_blocks(bl, (64, 64), (64, 64), dst_block=64, method="nearest").collect()
    assert len(ident) == 1
    gid = np.array(ident[0]["values"], dtype=np.float32).reshape(64, 64)
    bn = np.isnan(gid) & np.isnan(full)
    assert (bn | (gid == full.astype(np.float32))).all()

    with pytest.raises(NotImplementedError, match="cubic"):
        B.regrid_bilinear_blocks(bl, (64, 64), (32, 32), dst_block=32, method="cubic")


@pytest.mark.parametrize("dst", [(96, 64), (256, 320)])  # down- and up-sample
def test_regrid_halo_nearest_matches_oracle(spark, dst):
    """Halo-exchange nearest: same numpy oracle, cross-tile mosaic,
    no group assembles the full raster (mirrors the bilinear twin)."""
    sw = sh = 128
    dw, dh = dst
    bl = B.synth_blocks_df(spark, sw, sh, 32, nodata=-1.0, scale=1.0)
    out = B.regrid_bilinear_blocks(
        bl, (sw, sh), (dw, dh), dst_block=48, method="nearest"
    ).collect()
    got = np.full((dh, dw), np.nan, dtype=np.float64)
    for r in out:
        a = np.array(r["values"], dtype=np.float32).reshape(r.ysize, r.xsize)
        got[r.yoff : r.yoff + r.ysize, r.xoff : r.xoff + r.xsize] = a
    xg, yg = np.meshgrid(np.arange(sw), np.arange(sh))
    full = ((xg * 31 + yg * 17) % 30000).astype(np.float64)
    full[yg % 97 == 0] = np.nan
    exp = _nearest_oracle(full, sw, sh, dw, dh)
    both_nan = np.isnan(got) & np.isnan(exp)
    assert (both_nan | (got == exp.astype(np.float32))).all()
    assert np.isnan(exp).any() and not np.isnan(exp).all()


def test_combine_blocks_per_input_nearest(spark):
    """Dataset.combine with a per-input method list: the 'nearest'
    band carries only source values (no blended pixels)."""
    ref = B.synth_blocks_df(spark, 64, 64, 32, nodata=-1.0, scale=1.0, band="REF")
    other = B.synth_blocks_df(spark, 128, 128, 32, nodata=-1.0, scale=1.0, band="B2")
    out = B.combine_blocks(
        ref, [other], (64, 64), [(128, 128)], method=["nearest"], dst_block=64
    ).collect()
    band2 = np.full((64, 64), np.nan, np.float32)
    for r in out:
        if r.band != "2":
            continue
        a = np.array(r["values"], dtype=np.float32).reshape(r.ysize, r.xsize)
        band2[r.yoff : r.yoff + r.ysize, r.xoff : r.xoff + r.xsize] = a
    xg2, yg2 = np.meshgrid(np.arange(128), np.arange(128))
    full2 = ((xg2 * 31 + yg2 * 17) % 30000).astype(np.float64)
    full2[yg2 % 97 == 0] = np.nan
    exp2 = _nearest_oracle(full2, 128, 128, 64, 64).astype(np.float32)
    nan2 = np.isnan(band2) & np.isnan(exp2)
    assert (nan2 | (band2 == exp2)).all()
