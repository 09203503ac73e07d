"""End-user composition across the round-5 raster surface: one
pipeline that touches rasterize → COG sink → distributed COG scan →
focal hillshade → labeled DataArray → PNG plot, asserting values at
each seam (operator tests pin the math; this pins the PLUMBING —
that the pieces actually compose, through the operators and the
public façade's export and array verbs)."""

import numpy as np
import pytest

from earth_data_kit_spark.api import Dataset
from earth_data_kit_spark.operators.focal import focal_map
from earth_data_kit_spark.operators.rasterize import rasterize
from earth_data_kit_spark.operators.spatial_join import Polygon
from earth_data_kit_spark.sources.cog import cog_scan

GT = (10.0, 0.1, 0.0, 50.0, 0.0, -0.1)
W, H = 300, 260


def test_vector_to_cog_to_terrain_to_plot(spark, tmp_path):
    ds = Dataset("e2e", "mem")
    polys = [
        Polygon("A", "a", bbox=(11.0, 42.0, 18.0, 48.0)),
        Polygon("B", "b", bbox=(14.0, 44.0, 16.0, 46.0)),
    ]
    burned = rasterize(
        spark, polys, GT, W, H, block=128, values={"A": 50.0, "B": 200.0}
    )

    # → physical COG with an overview, back through the distributed scan
    p = str(tmp_path / "zones.tif")
    ds.export_cog(burned, p, W, H, tile=128, gt=GT, compression="deflate",
                  overviews=1)
    scanned = cog_scan(spark, p)
    assert scanned.count() == 9

    # → Horn hillshade over the re-scanned raster.  The background
    # carries the stamped nodata (0.0), which the focal stage masks
    # to NaN — gdaldem's nodata semantics — while flat zone interiors
    # get the constant flat-shade value.
    hs = focal_map(scanned, (W, H), 128, "hillshade", gt=GT)
    rows = [r.asDict() for r in hs.collect()]
    full = np.full((H, W), np.nan, dtype=np.float32)
    for r in rows:
        a = np.frombuffer(r["payload"], dtype=np.float32).reshape(r["ysize"], r["xsize"])
        full[r["yoff"]: r["yoff"] + r["ysize"], r["xoff"]: r["xoff"] + r["xsize"]] = a
    flat_shade = 255.0 * np.sin(np.radians(45.0))
    assert np.isnan(full[5, 5])                       # nodata background
    # deep inside A only (lon 12.05, lat 42.95) and deep inside B
    # (lon 15.05, lat 44.95) — whole 3x3 neighborhood inside one
    # zone, flat → constant shade
    assert full[70, 20] == pytest.approx(flat_shade, abs=0.1)
    assert full[50, 50] == pytest.approx(flat_shade, abs=0.1)

    # → labeled DataArray + nearest-label selection at a zone-B point
    # (the 4D facade keys blocks by (t, band); stamp the time index)
    from pyspark.sql import functions as F

    la = ds.to_labeled_dataarray(
        burned.withColumn("t", F.lit(0)).withColumn("band", F.lit("zones")),
        times=[0], bands=["zones"], gt=GT, x_size=W, y_size=H,
    )
    v = la.sel(x=15.05, y=44.95, method="nearest")
    assert float(np.asarray(v).squeeze()) == 200.0

    # → PNG overlay through the plot surface
    from earth_data_kit_spark import plot as plot_mod

    html = str(tmp_path / "overlay.html")
    png = plot_mod.plot(la, to_html_path=html)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert "imageOverlay" in open(html).read()
