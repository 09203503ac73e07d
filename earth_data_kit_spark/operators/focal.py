"""Focal (neighborhood) raster operators: stats + terrain analysis.

The ``gdaldem``-shaped analog for a GDAL-wrapping reference
(slope / aspect / hillshade via Horn's 3×3 method, plus focal
mean/min/max smoothing) over the standard blocks schema — every
pixel's output depends on its (2r+1)² neighborhood, so blocks need
their neighbors' border pixels: a HALO EXCHANGE, like
``blocks.regrid_bilinear_blocks`` but on an identity grid.

Scale-right shuffle, through the halo-exchange layer in blocks.py
(shared with ``contour.contour_segments``): stage 1 is the strip
cutter ``_halo_strips`` with ``lo = hi = r`` — a map-only Arrow pass
in which each block emits, per neighbor target, ONLY the ≤r-pixel
strip that target's halo needs (plus its own full payload to itself)
— for r=1 and 256-px blocks the shuffle moves ~1.03× the raster, not
the 9× a naive whole-block explode would.  Stage 2 groups by target
block, assembles the halo window (``_window``: NaN fill, each strip
through the one sample rule ``_samples`` — nodata or NaN → NaN, then
scale/offset), edge-replicates at raster borders (GDAL
``-compute_edges`` semantics), applies the kernel in numpy, and
emits the interior as a blocks-schema row — so focal output feeds
export_cog / zonal / any block operator unchanged.

Requires a uniform block grid (``block_x = xoff // block``), which
is what every producer in this engine emits (synth, rasterize,
cog_scan, regrid).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from earth_data_kit_spark.operators.blocks import (
    BLOCK_SCHEMA,
    _halo_strips,
    _halo_window,
    _window,
)

FOCAL_FNS = ("mean", "min", "max", "range", "slope", "aspect", "hillshade")


def _horn_gradients(a: np.ndarray, xres: float, yres: float):
    """Horn 1981 3×3 gradients on an edge-padded array (the method
    gdaldem uses).  ``a`` is already padded by 1; returns dz/dx,
    dz/dy for the interior."""
    z = a
    # neighbors of the interior cell, gdaldem letter layout:
    # a b c
    # d e f
    # g h i
    A, B, C = z[:-2, :-2], z[:-2, 1:-1], z[:-2, 2:]
    D, _, Fr = z[1:-1, :-2], z[1:-1, 1:-1], z[1:-1, 2:]
    G, Hn, I = z[2:, :-2], z[2:, 1:-1], z[2:, 2:]
    dzdx = ((C + 2 * Fr + I) - (A + 2 * D + G)) / (8.0 * xres)
    dzdy = ((G + 2 * Hn + I) - (A + 2 * B + C)) / (8.0 * yres)
    return dzdx, dzdy


def _apply_kernel(
    padded: np.ndarray, fn: str, r: int, xres: float, yres: float,
    z_factor: float, azimuth: float, altitude: float,
) -> np.ndarray:
    if fn in ("mean", "min", "max", "range"):
        k = 2 * r + 1
        win = np.lib.stride_tricks.sliding_window_view(padded, (k, k))
        if fn == "mean":
            return win.mean(axis=(2, 3))
        if fn == "min":
            return win.min(axis=(2, 3))
        if fn == "max":
            return win.max(axis=(2, 3))
        return win.max(axis=(2, 3)) - win.min(axis=(2, 3))
    dzdx, dzdy = _horn_gradients(padded, xres, yres)
    if fn == "slope":
        return np.degrees(np.arctan(z_factor * np.hypot(dzdx, dzdy)))
    if fn == "aspect":
        # gdaldem: degrees clockwise from north; flat → -9999
        asp = np.degrees(np.arctan2(dzdy, -dzdx))
        asp = np.where(asp < 0, 90.0 - asp, np.where(asp > 90.0, 360.0 - asp + 90.0, 90.0 - asp))
        flat = (dzdx == 0) & (dzdy == 0)
        return np.where(flat, -9999.0, asp)
    if fn == "hillshade":
        az = math.radians(azimuth)
        alt = math.radians(altitude)
        slope = np.arctan(z_factor * np.hypot(dzdx, dzdy))
        aspect = np.arctan2(dzdy, -dzdx)
        shade = np.sin(alt) * np.cos(slope) + np.cos(alt) * np.sin(slope) * np.cos(
            az - math.pi / 2.0 - aspect
        )
        return np.clip(255.0 * shade, 0.0, 255.0)
    raise ValueError(f"unknown focal fn {fn!r} (expected one of {FOCAL_FNS})")


def focal_map(
    blocks: DataFrame,
    raster_size: tuple[int, int],
    block: int,
    fn: str = "mean",
    radius: int = 1,
    gt: tuple = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
    z_factor: float = 1.0,
    azimuth: float = 315.0,
    altitude: float = 45.0,
    out_dtype: str = "float32",
) -> DataFrame:
    """Focal statistic or Horn terrain derivative of a blocks raster.

    ``fn``: 'mean' | 'min' | 'max' | 'range' (window radius
    ``radius``) or 'slope' | 'aspect' | 'hillshade' (Horn 3×3;
    radius forced to 1; ``gt`` supplies the cell sizes).  Raster
    borders are edge-replicated (``-compute_edges``).  Values are
    decoded through scale/offset; output is float with scale 1.
    """
    if fn not in FOCAL_FNS:
        raise ValueError(f"unknown focal fn {fn!r} (expected one of {FOCAL_FNS})")
    if fn in ("slope", "aspect", "hillshade"):
        radius = 1
    if radius < 1 or radius > block:
        raise ValueError("radius must be in [1, block]")
    w, h = raster_size
    r = radius
    xres, yres = abs(float(gt[1])), abs(float(gt[5]))
    np_out = np.float64 if out_dtype == "float64" else np.float32

    def per_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        band, bx, by = key
        cx0, cy0 = bx * block, by * block
        cx1, cy1 = min(w, cx0 + block), min(h, cy0 + block)
        hx0, hy0, hx1, hy1 = _halo_window(bx, by, block, raster_size, r, r)
        halo = _window(pdf, hx0, hy0, hx1, hy1)
        # edge-replicate the part of the halo the raster edge clipped
        pad = ((r - (cy0 - hy0), r - (hy1 - cy1)),
               (r - (cx0 - hx0), r - (hx1 - cx1)))
        padded = np.pad(halo, pad, mode="edge")
        res = _apply_kernel(padded, fn, r, xres, yres, z_factor, azimuth, altitude)
        out = res.astype(np_out)
        return pd.DataFrame(
            [{
                "tile_name": f"focal_{fn}", "band": band,
                "block_x": int(bx), "block_y": int(by),
                "xoff": int(cx0), "yoff": int(cy0),
                "xsize": int(cx1 - cx0), "ysize": int(cy1 - cy0),
                "dtype": out_dtype, "nodataval": float("nan"),
                "scale": 1.0, "offset": 0.0,
                "payload": np.ascontiguousarray(out).tobytes(),
            }]
        )

    return _halo_strips(blocks, raster_size, block, r, r).groupBy(
        "band", "dst_bx", "dst_by"
    ).applyInPandas(per_block, schema=BLOCK_SCHEMA)
