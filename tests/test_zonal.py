"""Zonal statistics (operators/zonal.py) against independent numpy
oracles: rectangle membership by closed-form recompute, triangle
membership by half-plane signs (NOT the engine's ray-cast), nodata +
scale semantics from the synth stripe."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.operators.blocks import synth_blocks_df
from earth_data_kit_spark.operators.spatial_join import Polygon
from earth_data_kit_spark.operators.zonal import zonal_stats

GT = (10.0, 0.1, 0.0, 50.0, 0.0, -0.1)
W = H = 512


def _synth(nodata_stripe=True):
    x, y = np.meshgrid(np.arange(W), np.arange(H))
    v = ((x * 31 + y * 17) % 30000).astype(np.float64)
    valid = np.ones_like(v, dtype=bool)
    if nodata_stripe:
        valid = y % 97 != 0
    lon = GT[0] + (x + 0.5) * GT[1]
    lat = GT[3] + (y + 0.5) * GT[5]
    return v, valid, lon, lat


def _oracle(mask, v, valid, scale=1e-4):
    sel = v[mask & valid] * scale
    return {
        "n_px": sel.size, "mean_v": sel.mean(), "std_v": sel.std(),
        "min_v": sel.min(), "max_v": sel.max(),
    }


def _check(row, exp):
    assert row["n_px"] == exp["n_px"]
    for k in ("mean_v", "std_v", "min_v", "max_v"):
        assert row[k] == pytest.approx(exp[k], rel=1e-9), k


@pytest.mark.parametrize("source", ["list", "df"])
def test_rectangle_zones_with_nodata_and_scale(spark, source):
    blocks = synth_blocks_df(spark, W, H, 128)
    polys = [
        Polygon("A", "a", bbox=(12.03, 41.02, 20.57, 45.49)),
        Polygon("B", "b", bbox=(10.01, 48.0, 11.99, 49.99)),
        # low pixel-space edge in the first half of a block's last
        # pixel, whose centre is inside (x: pixel 127, y: pixel 127)
        Polygon("X", "x", bbox=(22.73, 41.02, 30.0, 45.49)),
        Polygon("Y", "y", bbox=(12.0, 30.0, 20.0, 37.27)),
    ]
    zones = polys if source == "list" else spark.createDataFrame(
        [(p.code, None, *p.bbox) for p in polys],
        "code string, wkt string, xmin double, ymin double, xmax double, ymax double",
    )
    got = {r["code"]: r.asDict() for r in zonal_stats(blocks, zones, GT).collect()}
    v, valid, lon, lat = _synth()
    for p in polys:
        xmin, ymin, xmax, ymax = p.bbox
        mask = (lon >= xmin) & (lon <= xmax) & (lat >= ymin) & (lat <= ymax)
        _check(got[p.code], _oracle(mask, v, valid))
        assert got[p.code]["band"] == "B1"


def test_triangle_wkt_against_halfplane_oracle(spark):
    blocks = synth_blocks_df(spark, W, H, 128, nodata_stripe=False)
    tri = [(11.03, 44.97), (14.57, 49.13), (16.01, 41.02)]
    wkt = "POLYGON ((" + ", ".join(f"{a} {b}" for a, b in tri + [tri[0]]) + "))"
    got = zonal_stats(blocks, [Polygon("T", "t", wkt=wkt)], GT).collect()
    assert len(got) == 1
    v, valid, lon, lat = _synth(nodata_stripe=False)

    def halfplane(px, py):  # independent membership: all cross-signs equal
        signs = []
        for i in range(3):
            (x1, y1), (x2, y2) = tri[i], tri[(i + 1) % 3]
            signs.append((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) > 0)
        return (signs[0] == signs[1]) & (signs[1] == signs[2])

    mask = halfplane(lon, lat)
    _check(got[0].asDict(), _oracle(mask, v, valid))


def test_disjoint_polygon_prunes_to_empty(spark):
    blocks = synth_blocks_df(spark, W, H, 128)
    out = zonal_stats(blocks, [Polygon("Z", "z", bbox=(200.0, 80.0, 210.0, 85.0))], GT)
    assert out.count() == 0


def test_multiband_keys(spark):
    b1 = synth_blocks_df(spark, 256, 256, 128, band="B1", nodata_stripe=False)
    b2 = synth_blocks_df(spark, 256, 256, 128, band="B2", nodata_stripe=False)
    out = zonal_stats(
        b1.unionByName(b2), [Polygon("A", "a", bbox=(10.0, 20.0, 40.0, 50.0))], GT
    ).collect()
    assert {(r["code"], r["band"]) for r in out} == {("A", "B1"), ("A", "B2")}
    rows = {r["band"]: r for r in out}
    assert rows["B1"]["n_px"] == rows["B2"]["n_px"]
    assert rows["B1"]["mean_v"] == pytest.approx(rows["B2"]["mean_v"])


def test_plan_broadcasts_polygons(spark):
    blocks = synth_blocks_df(spark, 256, 256, 128)
    df = zonal_stats(blocks, [Polygon("A", "a", bbox=(10.0, 20.0, 40.0, 50.0))], GT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_zones_skip_nan_samples_of_focal_output(spark):
    """focal_map marks nodata as NaN samples (nodataval=NaN); the
    zonal partials read NaN as missing, so a zone touching the NaN
    slope stripe keeps finite stats over its other pixels."""
    from earth_data_kit_spark.operators.focal import focal_map

    slope = focal_map(synth_blocks_df(spark, W, H, 128, nodata_stripe=True),
                      (W, H), 128, "slope", gt=GT)
    polys = [
        Polygon("A", "a", bbox=(12.03, 41.02, 20.57, 45.49)),  # off the stripe
        Polygon("B", "b", bbox=(10.01, 48.0, 11.99, 49.99)),   # row 0 stripe
        Polygon("Y", "y", bbox=(12.0, 30.0, 20.0, 37.27)),     # row 194 stripe
    ]
    got = {r["code"]: r.asDict() for r in zonal_stats(slope, polys, GT).collect()}
    # nan-aware oracle: Horn slope of the decoded raster on the
    # unblocked array (NaN spreads over each stripe pixel's 3×3),
    # stored as float32 like the focal output
    v, valid, lon, lat = _synth()
    z = np.pad(np.where(valid, v * 1e-4, np.nan), 1, mode="edge")
    dzdx = ((z[:-2, 2:] + 2 * z[1:-1, 2:] + z[2:, 2:])
            - (z[:-2, :-2] + 2 * z[1:-1, :-2] + z[2:, :-2])) / (8 * 0.1)
    dzdy = ((z[2:, :-2] + 2 * z[2:, 1:-1] + z[2:, 2:])
            - (z[:-2, :-2] + 2 * z[:-2, 1:-1] + z[:-2, 2:])) / (8 * 0.1)
    s = np.degrees(np.arctan(np.hypot(dzdx, dzdy))).astype(np.float32).astype(np.float64)
    for p in polys:
        xmin, ymin, xmax, ymax = p.bbox
        mask = (lon >= xmin) & (lon <= xmax) & (lat >= ymin) & (lat <= ymax)
        sel = s[mask & ~np.isnan(s)]
        assert (sel.size < mask.sum()) == (p.code != "A")
        row = got[p.code]
        assert row["n_px"] == sel.size
        for k, e in (("mean_v", sel.mean()), ("std_v", sel.std()),
                     ("min_v", sel.min()), ("max_v", sel.max())):
            assert row[k] == pytest.approx(e, rel=1e-6), (p.code, k)
