"""Rasterize: vector→raster burn (the inverse of zonal_stats).

Polygons burned into a blocks-schema raster on a supplied
geotransform grid — GDAL's ``RasterizeLayer`` semantics (pixel-center
membership, later layers overwrite) restated as a three-stage Spark
plan.  Together with ``zonal.zonal_stats`` (raster→per-polygon) and
``spatial_join.pip_join`` (points→polygons) this closes the
raster↔vector triangle the north rule names; the output composes
directly with every block operator and sink (``gtiff.export_cog``,
``blocks.block_mean``, ``sources/cog.cog_scan`` roundtrip).

Stages:

1. Block grid NATIVELY: ``spark.range(n_bx * n_by)`` → (bx, by,
   pixel window) as pure Columns — the grid is distributed from
   birth, never a driver list (a 10^6-block mosaic is a range, not
   a collect).
2. ``polygons.block_pairs`` LEFT-joins the polygons whose pixel
   ranges overlap each block (blocks no polygon touches stay, burn
   to nodata fill — a raster has every pixel).
3. One grouped Arrow stage per block: paint nodata, then burn each
   intersecting polygon in ``burn_ord`` order (later polygons
   overwrite, GDAL layer semantics) through the pixel-centre mask
   ``grid.geom.pixel_mask``.  The shuffle that groups (block ×
   polygon) pairs carries polygon METADATA rows only — pixels are
   born inside the Arrow stage and leave as encoded payloads.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earth_data_kit_spark.grid import geom
from earth_data_kit_spark.operators import polygons as P
from earth_data_kit_spark.operators.spatial_join import Polygon


def rasterize(
    spark: SparkSession,
    polygons: "list[Polygon] | DataFrame",
    gt: tuple,
    width: int,
    height: int,
    values: dict[str, float] | None = None,
    block: int = 256,
    dtype: str = "int16",
    nodata: float = 0.0,
    band: str = "B1",
    tile_px: int = 1024,
) -> DataFrame:
    """Burn ``polygons`` into a (height, width) raster on ``gt``,
    returned as the standard blocks schema.  ``values`` maps polygon
    code → burn value (default: 1-based position in ``polygons``).
    Later list entries overwrite earlier ones where they overlap.

    ``polygons`` may instead be a **DataFrame** (VERDICT r5 task 3)
    with `code` + `wkt`/bbox columns plus ``burn_v`` (value) and
    ``burn_ord`` (explicit overwrite order — a distributed table has
    no list order, so determinism must be declared), tile-equi-joined
    to the block grid in-plan on a ``tile_px``-pixel grid with no
    driver materialization at any polygon count (see
    ``operators.polygons.block_pairs``)."""
    if gt[2] != 0 or gt[4] != 0:
        raise ValueError("rasterize requires an axis-aligned geotransform")
    x0, xres, _, y0, _, yres = (float(g) for g in gt)

    if isinstance(polygons, DataFrame):
        missing = {"burn_v", "burn_ord"} - set(polygons.columns)
        if missing:
            raise ValueError(
                f"DataFrame rasterize needs explicit {sorted(missing)} columns"
            )
        vals = None
    else:
        vals = values or {p.code: float(i + 1) for i, p in enumerate(polygons)}

    n_bx, n_by = -(-width // block), -(-height // block)
    grid = (
        spark.range(n_bx * n_by)
        .select(
            (F.col("id") % n_bx).cast("int").alias("block_x"),
            (F.col("id") / n_bx).cast("int").alias("block_y"),
        )
        .withColumn("xoff", F.col("block_x") * block)
        .withColumn("yoff", F.col("block_y") * block)
        .withColumn("xsize", F.least(F.lit(block), F.lit(width) - F.col("xoff")))
        .withColumn("ysize", F.least(F.lit(block), F.lit(height) - F.col("yoff")))
    )
    pairs = P.block_pairs(grid, polygons, gt, tile_px, "left", vals)
    npdt = np.dtype(dtype)
    wkt_cache: dict[str, tuple] = {}

    def burn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        r0 = pdf.iloc[0]
        xs_n, ys_n = int(r0["xsize"]), int(r0["ysize"])
        arr = np.full((ys_n, xs_n), nodata, dtype=npdt)
        xs = x0 + (np.arange(r0["xoff"], r0["xoff"] + xs_n) + 0.5) * xres
        ys = y0 + (np.arange(r0["yoff"], r0["yoff"] + ys_n) + 0.5) * yres
        hit = pdf[pdf["burn_ord"].notna()].sort_values("burn_ord")
        for _, r in hit.iterrows():
            mask = geom.pixel_mask(
                xs, ys, r["wkt"], (r["xmin"], r["ymin"], r["xmax"], r["ymax"]),
                wkt_cache,
            )
            arr[mask] = npdt.type(r["burn_v"])
        return pd.DataFrame(
            [{
                "tile_name": "rasterize", "band": band,
                "block_x": int(key[0]), "block_y": int(key[1]),
                "xoff": int(r0["xoff"]), "yoff": int(r0["yoff"]),
                "xsize": xs_n, "ysize": ys_n, "dtype": dtype,
                "nodataval": float(nodata), "scale": 1.0, "offset": 0.0,
                "payload": arr.tobytes(),
            }]
        )

    from earth_data_kit_spark.operators.blocks import BLOCK_SCHEMA

    return pairs.groupBy("block_x", "block_y").applyInPandas(burn, schema=BLOCK_SCHEMA)
