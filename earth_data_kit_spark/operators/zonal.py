"""Zonal statistics: polygon × raster aggregation (raster↔vector).

The missing third leg of the raster↔vector triangle the reference's
grid/stitch semantics imply (tile pyramid assignment = raster→vector
cells, `pip_join` = vector points→polygons): per-polygon statistics
of raster pixel values.  Reference analog: the mosaic read + mean in
`benchmarks/read_gdal_parallel.py:44-50` computes ONE global mean;
zonal stats is that reduction keyed by polygon membership.

Spark-first shape (mirrors ``spatial_join.pip_join``'s
prefilter-then-refine and ``blocks.block_mean``'s partial+final):

1. ``polygons.block_pairs`` pairs blocks with polygons whose pixel
   ranges overlap (broadcast theta join for a driver list, tile
   equi-join for a DataFrame) — a block far from every polygon is
   pruned before its payload is ever read.
2. Arrow partial stage: per surviving pair, decode the block once,
   mask its pixel centres (``grid.geom.pixel_mask``: rectangle
   closed-form or ray-cast), decode through ``blocks._samples``
   (nodata → NaN, scale/offset), drop NaN samples, emit
   (code, band, sum, sum_sq, count, min, max).
3. Final NATIVE agg by (code, band): mean/std/min/max/count — one
   shuffle of O(pairs) partial rows, never pixels.

Scale posture: pixel work is map-side and proportional to
*intersecting* blocks only; the final shuffle carries one partial row
per (block, polygon), not per pixel.  A polygon set too big to
broadcast goes in as a DataFrame.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earth_data_kit_spark.grid import geom
from earth_data_kit_spark.operators import polygons as P
from earth_data_kit_spark.operators.spatial_join import Polygon


def zonal_stats(
    blocks: DataFrame,
    polygons: "list[Polygon] | DataFrame",
    gt: tuple,
    tile_px: int = 1024,
) -> DataFrame:
    """Per-polygon, per-band raster statistics.

    ``blocks``: the standard blocks schema (operators/blocks.py) in
    pixel space; ``gt``: the raster's GDAL geotransform mapping
    pixels to polygon coordinates (axis-aligned: gt[2] == gt[4] == 0).
    Returns (code, band, n_px, mean_v, std_v, min_v, max_v).

    ``polygons`` is a driver list (tiny zone tables, broadcast) or a
    **DataFrame** (`code` + `wkt`/bbox columns) tile-equi-joined
    in-plan on a ``tile_px``-pixel grid — see
    ``operators.polygons.block_pairs``.  Both feed the same partial
    stage and agree row-for-row (tests/test_polygons_df.py parity).
    """
    if gt[2] != 0 or gt[4] != 0:
        raise ValueError("zonal_stats requires an axis-aligned geotransform")
    x0, xres, _, y0, _, yres = (float(g) for g in gt)
    pairs = P.block_pairs(blocks, polygons, gt, tile_px, "inner")

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from earth_data_kit_spark.operators.blocks import _samples

        wkt_cache: dict[str, tuple] = {}
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                v = _samples(r._asdict())
                # pixel-center coordinates of this block's window
                xs = x0 + (np.arange(r.xoff, r.xoff + r.xsize) + 0.5) * xres
                ys = y0 + (np.arange(r.yoff, r.yoff + r.ysize) + 0.5) * yres
                mask = geom.pixel_mask(
                    xs, ys, r.wkt, (r.xmin, r.ymin, r.xmax, r.ymax), wkt_cache
                )
                sel = v[mask & ~np.isnan(v)]
                if sel.size == 0:
                    continue
                out.append(
                    {
                        "code": r.code, "band": r.band,
                        "s": float(sel.sum()), "s2": float((sel * sel).sum()),
                        "n": int(sel.size),
                        "mn": float(sel.min()), "mx": float(sel.max()),
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["code", "band", "s", "s2", "n", "mn", "mx"],
            )

    p = pairs.mapInPandas(
        partials,
        schema="code string, band string, s double, s2 double, n bigint, "
               "mn double, mx double",
    )
    n, s, s2 = F.sum("n"), F.sum("s"), F.sum("s2")
    return p.groupBy("code", "band").agg(
        n.alias("n_px"),
        (s / n).alias("mean_v"),
        F.sqrt(F.greatest(s2 / n - (s / n) * (s / n), F.lit(0.0))).alias("std_v"),
        F.min("mn").alias("min_v"),
        F.max("mx").alias("max_v"),
    )
