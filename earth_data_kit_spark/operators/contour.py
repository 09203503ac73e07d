"""Contour extraction: marching squares over a blocks raster.

The ``gdal_contour`` analog, completing the terrain suite
(slope/aspect/hillshade in operators/focal.py): for each requested
level, emit the line SEGMENTS where the raster crosses it.  Segment
endpoints interpolate linearly along cell edges — the classic
marching-squares construction, saddle cases split by the cell-center
average (GDAL's disambiguation).

Distribution: a 2×2 marching cell anchored at pixel (x, y) needs
(x+1, y+1) — blocks need a 1-pixel halo right/down.  Stage 1 is the
halo-exchange strip cutter shared with focal.py (``blocks.
_halo_strips`` with ``lo=0, hi=1``: only left/top edge strips travel,
to the left/up neighbor); stage 2 groups per block, assembles the
(bh+1, bw+1) window with the shared ``blocks._window`` (nodata →
NaN, scale/offset) and marches ONLY the cells anchored inside the
block's own window — every cell is computed by exactly one task, so
segments are globally unique with no stitching pass; a cell with a
nodata corner yields no segment.  Output rows: (level, x1, y1, x2,
y2) in PIXEL coordinates (continuous; pixel centers at integers);
multiply through the geotransform for world coordinates.
``contour_lines`` stitches segments into polylines with the engine's
one connected-components routine, ``dedup.dup_clusters``.

Scale posture: map-only + one grouped shuffle whose payload is the
one-pixel strips (O(perimeter)); segment output is proportional to
contour length, never raster area.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earth_data_kit_spark.operators.blocks import _halo_strips, _halo_window, _window
from earth_data_kit_spark.operators.dedup import dup_clusters

# the CC body under its historical name, for the convergence property test
from earth_data_kit_spark.operators.dedup import _star_contraction as _cc_star_contraction  # noqa: F401

SEG_SCHEMA = "level double, x1 double, y1 double, x2 double, y2 double"


def _march_cells(z: np.ndarray, level: float, x0: int, y0: int):
    """Marching squares on array ``z`` (rows y, cols x) for one
    level; cells anchored at (x0.., y0..) global pixel coords.
    Returns list of (x1, y1, x2, y2).  Vectorized case detection;
    per-cell python only for the (sparse) crossing cells."""
    a = z[:-1, :-1]  # top-left
    b = z[:-1, 1:]   # top-right
    c = z[1:, 1:]    # bottom-right
    d = z[1:, :-1]   # bottom-left
    idx = (
        (a >= level).astype(np.int8)
        + (b >= level).astype(np.int8) * 2
        + (c >= level).astype(np.int8) * 4
        + (d >= level).astype(np.int8) * 8
    )
    # cells with any NaN corner (nodata) produce no segments
    bad = np.isnan(a) | np.isnan(b) | np.isnan(c) | np.isnan(d)
    ys, xs = np.nonzero((idx != 0) & (idx != 15) & ~bad)
    segs = []

    def interp(v0, v1):
        return (level - v0) / (v1 - v0)

    for y, x in zip(ys, xs):
        va, vb, vc, vd = a[y, x], b[y, x], c[y, x], d[y, x]
        gx, gy = x0 + x, y0 + y
        # edge crossing points (pixel-center coordinates)
        top = (gx + interp(va, vb), gy) if (va >= level) != (vb >= level) else None
        right = (gx + 1, gy + interp(vb, vc)) if (vb >= level) != (vc >= level) else None
        bottom = (gx + interp(vd, vc), gy + 1) if (vd >= level) != (vc >= level) else None
        left = (gx, gy + interp(va, vd)) if (va >= level) != (vd >= level) else None
        pts = [p for p in (top, right, bottom, left) if p is not None]
        if len(pts) == 2:
            segs.append((*pts[0], *pts[1]))
        elif len(pts) == 4:
            # saddle: disambiguate by the cell-center mean (GDAL)
            center_high = (va + vb + vc + vd) / 4.0 >= level
            a_high = va >= level
            if a_high == center_high:
                segs.append((*top, *right))
                segs.append((*bottom, *left))
            else:
                segs.append((*top, *left))
                segs.append((*bottom, *right))
    return segs


def contour_segments(
    blocks: DataFrame,
    raster_size: tuple[int, int],
    block: int,
    levels: list[float],
) -> DataFrame:
    """Marching-squares contour segments for ``levels`` over a
    blocks raster → (level, x1, y1, x2, y2) in pixel-center
    coordinates."""
    lvls = [float(v) for v in levels]

    def per_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # own block + one pixel right/down: the cells anchored here
        cx0, cy0, cx1, cy1 = _halo_window(*key, block, raster_size, 0, 1)
        z = _window(pdf, cx0, cy0, cx1, cy1)
        rows = []
        if z.shape[0] >= 2 and z.shape[1] >= 2:
            for lv in lvls:
                for x1, y1, x2, y2 in _march_cells(z, lv, cx0, cy0):
                    rows.append(
                        {"level": lv, "x1": float(x1), "y1": float(y1),
                         "x2": float(x2), "y2": float(y2)}
                    )
        return pd.DataFrame(rows, columns=["level", "x1", "y1", "x2", "y2"])

    return _halo_strips(blocks, raster_size, block, 0, 1).groupBy(
        "dst_bx", "dst_by"
    ).applyInPandas(per_block, schema=SEG_SCHEMA)


def contour_lines(segments: DataFrame, quantum: float = 1e-6) -> DataFrame:
    """Stitch marching-squares segments into LINES: adds a
    ``line_id`` column identifying each connected polyline (per
    level), the gdal_contour feature-id analog.

    Endpoints are exact rational crossings of the same cell edges on
    both sides (the blocking-invariance property), so quantizing by
    ``quantum`` keys shared endpoints identically; each segment is an
    edge between its two endpoint keys and ``dedup.dup_clusters``
    (large-star/small-star + compose — O(log length) rounds, which a
    polyline needs: its diameter IS its length) labels the connected
    endpoint graph.  line_id = the component's minimum endpoint key: stable
    across partitionings and blockings."""

    def key(x, y, lv):
        return F.abs(
            F.xxhash64(
                F.round(x / quantum).cast("bigint"),
                F.round(y / quantum).cast("bigint"),
                F.round(F.col(lv) / F.lit(quantum)).cast("bigint"),
            )
        )

    segs = segments.withColumn(
        "_ka", key(F.col("x1"), F.col("y1"), "level")
    ).withColumn("_kb", key(F.col("x2"), F.col("y2"), "level"))
    edges = segs.select(
        F.col("_ka").alias("id_a"), F.col("_kb").alias("id_b")
    ).distinct()

    mapping = dup_clusters(edges)
    out = (
        segs.join(mapping.withColumnRenamed("id", "_ka"), "_ka", "left")
        .withColumn("line_id", F.coalesce(F.col("cluster"), F.col("_ka")))
        .drop("_ka", "_kb", "cluster")
    )
    return out
