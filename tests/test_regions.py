"""Region labeling (operators/regions.py) vs an independent
full-array BFS oracle — the comparison is label-free (multisets of
(value, n_px, bbox)), so cross-block merging is exactly what it
pins."""

from collections import Counter

import numpy as np
import pytest

from earth_data_kit_spark.operators.blocks import BLOCK_SCHEMA
from earth_data_kit_spark.operators.polygonize import polygonize
from earth_data_kit_spark.operators.regions import region_label

W, H, B = 300, 260, 128


def _blocks_df(spark, arr, nodataval=float("nan"), block=B):
    rows = []
    h, w = arr.shape
    for by in range(0, h, block):
        for bx in range(0, w, block):
            sub = np.ascontiguousarray(arr[by: by + block, bx: bx + block])
            rows.append(
                ("t", "B1", bx // block, by // block, bx, by, sub.shape[1], sub.shape[0],
                 "float32", nodataval, 1.0, 0.0, sub.tobytes())
            )
    return spark.createDataFrame(rows, BLOCK_SCHEMA)


def _oracle_regions(arr, nodataval=None):
    """Full-array BFS CCL, no blocking — independent of the engine's
    run-based two-pass + strip-merge path."""
    h, w = arr.shape
    seen = np.zeros((h, w), dtype=bool)
    if nodataval is not None and not np.isnan(nodataval):
        seen |= arr == nodataval
    out = []
    for sy in range(h):
        for sx in range(w):
            if seen[sy, sx]:
                continue
            v = arr[sy, sx]
            stack = [(sy, sx)]
            seen[sy, sx] = True
            n = 0
            xmin = xmax = sx
            ymin = ymax = sy
            while stack:
                y, x = stack.pop()
                n += 1
                xmin, xmax = min(xmin, x), max(xmax, x)
                ymin, ymax = min(ymin, y), max(ymax, y)
                for yy, xx in ((y - 1, x), (y + 1, x), (y, x - 1), (y, x + 1)):
                    if 0 <= yy < h and 0 <= xx < w and not seen[yy, xx] and arr[yy, xx] == v:
                        seen[yy, xx] = True
                        stack.append((yy, xx))
            out.append((float(v), n, xmin, ymin, xmax, ymax))
    return Counter(out)


def _got_regions(spark, arr, nodataval=float("nan")):
    rows = region_label(_blocks_df(spark, arr, nodataval), (W, H), B).collect()
    return Counter(
        (r["value"], r["n_px"], r["xmin"], r["ymin"], r["xmax"], r["ymax"])
        for r in rows
    )


def test_zone_pattern_regions(spark):
    """Nested rectangles spanning multiple blocks: B inside A splits
    nothing but creates three regions (background, A-ring, B)."""
    arr = np.zeros((H, W), dtype=np.float32)
    arr[40:200, 30:250] = 5.0      # spans 4+ blocks
    arr[80:160, 100:200] = 9.0     # inner zone
    assert _got_regions(spark, arr, nodataval=-1.0) == _oracle_regions(arr)


def test_blocky_deterministic_pattern(spark):
    """Pseudo-random coarse pattern with many regions crossing block
    borders at 128px: exact multiset parity with the BFS oracle."""
    x, y = np.meshgrid(np.arange(W), np.arange(H))
    arr = (((x // 37) * 7 + (y // 29) * 13) % 4).astype(np.float32)
    got = _got_regions(spark, arr, nodataval=-1.0)
    exp = _oracle_regions(arr)
    assert got == exp
    assert len(got) > 20  # non-trivial region count


def test_nodata_forms_no_region(spark):
    arr = np.full((H, W), 3.0, dtype=np.float32)
    arr[:, 100:110] = -9.0  # nodata stripe splits the raster
    got = _got_regions(spark, arr, nodataval=-9.0)
    exp = _oracle_regions(arr, nodataval=-9.0)
    assert got == exp
    assert len(got) == 2  # left and right halves; stripe absent


def test_single_region_spanning_all_blocks(spark):
    arr = np.full((H, W), 7.0, dtype=np.float32)
    got = _got_regions(spark, arr)
    assert got == Counter({(7.0, W * H, 0, 0, W - 1, H - 1): 1})


LABELLERS = {"region_label": region_label, "polygonize": polygonize}


@pytest.mark.parametrize("name", sorted(LABELLERS))
def test_region_across_many_blocks(spark, name):
    """A 240×4 px stripe cut into 60 blocks of 4 px is ONE region: the
    label merge must not be bounded by the region's length in blocks."""
    arr = np.full((4, 240), 2.0, dtype=np.float32)
    rows = LABELLERS[name](_blocks_df(spark, arr, block=4), (240, 4), 4).collect()
    assert [(r["value"], r["n_px"]) for r in rows] == [(2.0, 960)]


@pytest.mark.parametrize("name", sorted(LABELLERS))
def test_labelling_leaves_no_cache(spark, name):
    """Cache hygiene: the labelled-block cache is scoped to the call —
    after the regions are collected, the session's cache manager is
    empty."""
    x, y = np.meshgrid(np.arange(W), np.arange(H))
    arr = (((x // 37) * 7 + (y // 29) * 13) % 4).astype(np.float32)
    spark.catalog.clearCache()
    LABELLERS[name](_blocks_df(spark, arr, nodataval=-1.0), (W, H), B).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_nan_pixels_are_background(spark):
    """A NaN sample is missing, as a nodata one is (focal output marks
    nodata that way): a NaN stripe splits the raster into two regions
    and forms none itself, in region_label and polygonize alike."""
    arr = np.full((H, W), 3.0, dtype=np.float32)
    arr[:, 100:110] = np.nan
    got = _got_regions(spark, arr)  # nodataval NaN
    assert got == _oracle_regions(np.where(np.isnan(arr), -9.0, arr), nodataval=-9.0)
    assert len(got) == 2
    assert polygonize(_blocks_df(spark, arr), (W, H), B).count() == 2
