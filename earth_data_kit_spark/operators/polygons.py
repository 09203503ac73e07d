"""The polygon side of the flagship join family, as ONE DataFrame.

``pip_join`` (all three cell schemes), ``zonal_stats`` and
``rasterize`` take a driver ``list[Polygon]`` (country tables,
10²–10³ rows) or a polygon DataFrame (a million-polygon parcels
layer — reference analog: the flagship J1 nested loop in the
reference's ``stitching/classes/dataset.py:252-274``, whose polygon
side is driver-bound).  Both become the same table
(``polygon_table``), so every consumer has one code path: the
covering is generated IN-PLAN and the probe join is broadcast under a
row threshold / shuffle-on-cell above it.

Building blocks, all pure Column plans (the
``knn.QuadScheme.query_cells`` pattern — two ``explode(sequence(...))``
nodes, zero Python in the covering):

* ``polygon_table`` / ``normalize_polygons_df`` — any polygon input as
  ``code, wkt, xmin, ymin, xmax, ymax``; a list is built straight
  into it, and the bbox of DataFrame WKT rows is computed by one
  Arrow-batched UDF over the POLYGON table (O(polygons) work, runs
  wherever the polygon rows live).
* ``covering_cells_df`` — quadgrid covering of each polygon bbox at
  ``res``, cell-for-cell identical to ``grid.cells.covering_bbox``
  including antimeridian wrap (xmin > xmax ⇒ the x-range wraps
  through nx), as ``explode(sequence)`` columns.
* ``refine_predicate_cols`` — the exact PIP refine against the
  carried geometry columns (codegen rectangles, ray-cast WKT rows).
* ``block_pairs`` — the raster side, written once for ``zonal_stats``
  and ``rasterize``: the polygon table, its pixel range
  (``polygons_pixel_bbox``) and the block↔polygon overlap join.  A
  DataFrame side is exploded onto a ``tile``-pixel grid
  (``pixel_tiles``) and equi-joined on (ptx, pty), each pair kept on
  one reference tile, instead of a broadcast nested-loop theta join.

Scale posture: covering and bbox prep are map-side over the polygon
table; the probe side never collects anything; geometry (wkt) rides
the candidate rows — for very vertex-heavy polygons prefer a slim
(code, cell) covering + join-back by code, the same auto-grow
join-back shape knn.py uses.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earth_data_kit_spark.functions.columns import RES_SHIFT_MULT, X_SHIFT_MULT
from earth_data_kit_spark.grid.cells import nx_ny

#: below this many polygon rows the covering is broadcast (a list is
#: measured by its length, a DataFrame counted); above it the join
#: shuffles both sides on ``cell`` — co-located if the probe table is
#: stored cell-partitioned (SCALE.md).
BROADCAST_MAX_POLYGONS = 10_000


def normalize_polygons_df(polys: DataFrame) -> DataFrame:
    """Canonicalize a polygon DataFrame to
    ``code, wkt, xmin, ymin, xmax, ymax``.

    Accepted inputs: a ``code`` column plus EITHER ``wkt`` (POLYGON
    text; bbox derived in-plan via an Arrow UDF) OR bbox columns
    ``xmin/ymin/xmax/ymax`` (rectangles; ``wkt`` null), or both mixed
    (per-row: wkt non-null wins for the refine, bbox non-null rows
    may keep their explicit box — e.g. pre-wrapped antimeridian
    rectangles)."""
    cols = set(polys.columns)
    if "code" not in cols:
        raise ValueError("polygons DataFrame needs a 'code' column")
    has_wkt = "wkt" in cols
    has_bbox = {"xmin", "ymin", "xmax", "ymax"} <= cols
    if not has_wkt and not has_bbox:
        raise ValueError(
            "polygons DataFrame needs 'wkt' or xmin/ymin/xmax/ymax columns"
        )
    out = polys
    if has_bbox:
        # A polygon table built from pandas in a session without Arrow
        # delivers missing doubles as NaN, not NULL — which silently
        # fails every isNull gate below (missing bboxes never derived,
        # coverings collapse).  Correctness must not depend on
        # spark.sql.execution.arrow.pyspark.enabled: normalize first.
        for c in ("xmin", "ymin", "xmax", "ymax"):
            out = out.withColumn(
                c, F.when(F.isnan(F.col(c)), F.lit(None)).otherwise(F.col(c))
            )
    if not has_wkt:
        out = out.withColumn("wkt", F.lit(None).cast("string"))
    if not has_bbox:
        from earth_data_kit_spark.functions.udfs import wkt_bbox_udf

        out = out.withColumn("_bb", wkt_bbox_udf(F.col("wkt"))).select(
            "*",
            F.col("_bb.xmin").alias("xmin"),
            F.col("_bb.ymin").alias("ymin"),
            F.col("_bb.xmax").alias("xmax"),
            F.col("_bb.ymax").alias("ymax"),
        ).drop("_bb")
    elif has_wkt:
        # mixed table: fill missing boxes of wkt rows in-plan
        from earth_data_kit_spark.functions.udfs import wkt_bbox_udf

        need = F.col("wkt").isNotNull() & F.col("xmin").isNull()
        bb = wkt_bbox_udf(F.col("wkt"))
        out = (
            out.withColumn("_bb", F.when(need, bb))
            .withColumn("xmin", F.coalesce("xmin", "_bb.xmin"))
            .withColumn("ymin", F.coalesce("ymin", "_bb.ymin"))
            .withColumn("xmax", F.coalesce("xmax", "_bb.xmax"))
            .withColumn("ymax", F.coalesce("ymax", "_bb.ymax"))
            .drop("_bb")
        )
    canon = ["code", "wkt", "xmin", "ymin", "xmax", "ymax"]
    extra = [c for c in out.columns if c not in canon]
    return out.select(*canon, *extra)


def covering_cells_df(norm: DataFrame, res: int) -> DataFrame:
    """Quadgrid covering of each polygon's bbox at ``res``, IN-PLAN.

    Input: the ``normalize_polygons_df`` schema.  Output: one row per
    (polygon, covering cell) — columns ``cell`` + the input columns —
    produced by two ``explode(sequence(...))`` nodes, bit-identical
    to ``grid.cells.covering_bbox`` (same clipped float→int cell
    arithmetic as ``functions.columns.cell_id_col``, same wrapped
    x-range for antimeridian boxes where xmin > xmax)."""
    nx, ny = nx_ny(res)

    def _cx(lon):
        return F.least(
            F.greatest(
                F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(nx)).cast(
                    "bigint"
                ),
                F.lit(0).cast("bigint"),
            ),
            F.lit(nx - 1).cast("bigint"),
        )

    def _cy(lat):
        return F.least(
            F.greatest(
                F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(ny)).cast(
                    "bigint"
                ),
                F.lit(0).cast("bigint"),
            ),
            F.lit(ny - 1).cast("bigint"),
        )

    x0, x1 = _cx(F.col("xmin")), _cx(F.col("xmax"))
    y0, y1 = _cy(F.col("ymax")), _cy(F.col("ymin"))  # y grows southward
    # covering_bbox parity: straight span when xmin<=xmax, wrapped
    # span (x0..nx-1 then 0..x1 — x0 may repeat in the degenerate
    # wrap, exactly as the list helper) when the box crosses ±180
    span_x = F.when(
        F.col("xmin") <= F.col("xmax"), x1 - x0 + F.lit(1).cast("bigint")
    ).otherwise(F.lit(nx).cast("bigint") - x0 + x1 + F.lit(1).cast("bigint"))
    base = norm.select(
        "*", x0.alias("_x0"), span_x.alias("_spanx"), y0.alias("_y0"), y1.alias("_y1")
    )
    ex = base.withColumn(
        "_dx", F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("_spanx") - 1))
    ).withColumn("_yy", F.explode(F.sequence(F.col("_y0"), F.col("_y1"))))
    xx = F.pmod(F.col("_x0") + F.col("_dx"), F.lit(nx).cast("bigint"))
    cell = (
        F.lit(res).cast("bigint") * F.lit(RES_SHIFT_MULT)
        + xx * F.lit(X_SHIFT_MULT)
        + F.col("_yy")
    )
    keep = [c for c in norm.columns]
    return ex.select(cell.alias("cell"), *keep)


def refine_predicate_cols(lon_col: str, lat_col: str, ray_cast: bool) -> "F.Column":
    """Exact PIP refine against CARRIED geometry columns, the one
    refine of every ``pip_join`` scheme: wkt-null rows are
    rectangles — pure codegen comparisons, antimeridian-aware
    (xmin > xmax ⇒ longitude disjunction) — and, with ``ray_cast``,
    wkt rows go through the vectorized per-batch-cached ray-cast.
    Without it the predicate is all Columns (no Python node): the
    caller passes False only when no row can carry a wkt."""
    lon, lat = F.col(lon_col), F.col(lat_col)
    lon_in = F.when(
        F.col("xmin") <= F.col("xmax"),
        (lon >= F.col("xmin")) & (lon <= F.col("xmax")),
    ).otherwise((lon >= F.col("xmin")) | (lon <= F.col("xmax")))
    keep = (
        F.col("wkt").isNull()
        & lon_in
        & (lat >= F.col("ymin"))
        & (lat <= F.col("ymax"))
    )
    if not ray_cast:
        return keep
    from earth_data_kit_spark.functions.udfs import pip_refine_wkt_udf

    return keep | (F.col("wkt").isNotNull() & pip_refine_wkt_udf(lon, lat, F.col("wkt")))


# ------------------------------------------------------- raster side
#
# zonal_stats and rasterize pair blocks with polygons here and keep
# only their kernels (partial stats, burn); both mask pixel centres
# with ``grid.geom.pixel_mask``.


def pixel_tiles(
    df: DataFrame, lo_x, hi_x, lo_y, hi_y, tile: int
) -> DataFrame:
    """Explode rows to the (ptx, pty) squares of a ``tile``-pixel grid
    covering the inclusive pixel range [lo_x, hi_x] × [lo_y, hi_y]
    (Column expressions in PIXEL coordinates).  The gt-space analog of
    ``covering_cells_df``: turns blocks × polygons bbox intersection
    into an equi-join on (ptx, pty) — shuffleable, broadcastable,
    AQE-planable — instead of a broadcast nested-loop theta join."""
    t = F.lit(float(tile))
    ex = df.withColumn(
        "ptx",
        F.explode(
            F.sequence(
                F.floor(lo_x / t).cast("bigint"), F.floor(hi_x / t).cast("bigint")
            )
        ),
    ).withColumn(
        "pty",
        F.explode(
            F.sequence(
                F.floor(lo_y / t).cast("bigint"), F.floor(hi_y / t).cast("bigint")
            )
        ),
    )
    return ex


def polygons_pixel_bbox(norm: DataFrame, gt: tuple) -> DataFrame:
    """Map each polygon's geo bbox to the inclusive PIXEL index range
    ``p_lo_x..p_hi_x, p_lo_y..p_hi_y`` on the raster grid ``gt``
    (axis-aligned; yres < 0 flips are handled by the min/max).  The
    range is ``[floor(lo), floor(hi)]`` of the fractional pixel
    bounds: every pixel whose centre lies in the bbox is inside it,
    with at least half a pixel to spare, so an exact pixel-centre mask
    downstream decides membership."""
    x0, xres, _, y0, _, yres = (float(g) for g in gt)
    px_a = (F.col("xmin") - F.lit(x0)) / F.lit(xres)
    px_b = (F.col("xmax") - F.lit(x0)) / F.lit(xres)
    py_a = (F.col("ymin") - F.lit(y0)) / F.lit(yres)
    py_b = (F.col("ymax") - F.lit(y0)) / F.lit(yres)
    return norm.select(
        "*",
        F.floor(F.least(px_a, px_b)).alias("p_lo_x"),
        F.floor(F.greatest(px_a, px_b)).alias("p_hi_x"),
        F.floor(F.least(py_a, py_b)).alias("p_lo_y"),
        F.floor(F.greatest(py_a, py_b)).alias("p_hi_y"),
    )


def polygon_table(
    spark, polygons: "list | DataFrame", burn: dict | None = None
) -> DataFrame:
    """Any polygon input as the ``normalize_polygons_df`` schema — the
    one polygon side of ``pip_join`` (every cell scheme),
    ``zonal_stats`` and ``rasterize``.  A driver ``list[Polygon]`` is
    built straight into it (bbox from ``Polygon.envelope()``; ``wkt``
    null for bbox rectangles), plus
    ``burn_ord`` (list position) and ``burn_v`` (``burn[code]``) when
    ``burn`` is given; a DataFrame goes through
    ``normalize_polygons_df``."""
    if isinstance(polygons, DataFrame):
        return normalize_polygons_df(polygons)
    cols = ["code", "wkt", "xmin", "ymin", "xmax", "ymax"]
    schema = "code string, wkt string, xmin double, ymin double, xmax double, ymax double"
    rows = [
        (p.code, None if p.bbox is not None else p.wkt,
         *(float(v) for v in p.envelope()))
        for p in polygons
    ]
    if burn is not None:
        cols += ["burn_ord", "burn_v"]
        schema += ", burn_ord int, burn_v double"
        rows = [(*r, i, float(burn[r[0]])) for i, r in enumerate(rows)]
    # from pandas, not a row list: with Arrow on this plans as a local
    # table scan instead of a Python RDD job per query
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)


def block_pairs(
    blocks: DataFrame,
    polygons: "list | DataFrame",
    gt: tuple,
    tile_px: int,
    how: str,
    burn: dict | None = None,
) -> DataFrame:
    """(block × polygon) pairs whose pixel ranges overlap: the
    ``blocks`` columns plus the ``polygon_table`` columns, joined
    ``how`` (``"inner"``, or ``"left"`` to keep blocks no polygon
    touches).  A block covers pixels ``[xoff, xoff + xsize - 1]``, a
    polygon ``polygons_pixel_bbox``'s range.

    A driver list is broadcast into a nested-loop join on that
    predicate.  A DataFrame stays distributed: both sides explode onto
    the ``tile_px`` pixel grid (``pixel_tiles``) and equi-join on the
    tile key, and a pair is kept only on the tile holding its
    intersection's low corner ``(max(xoff, p_lo_x), max(yoff,
    p_lo_y))`` — both sides cover that tile, so each pair appears
    exactly once with no dedup pass (Dittrich & Seeger's reference
    point, the rule ``overlay`` uses on quadgrid cells)."""
    polys = polygons_pixel_bbox(
        polygon_table(blocks.sparkSession, polygons, burn), gt
    )
    b_lo_x, b_lo_y = F.col("xoff"), F.col("yoff")
    b_hi_x = F.col("xoff") + F.col("xsize") - 1
    b_hi_y = F.col("yoff") + F.col("ysize") - 1
    p_lo_x, p_hi_x, p_lo_y, p_hi_y = (
        F.col(c) for c in ("p_lo_x", "p_hi_x", "p_lo_y", "p_hi_y")
    )
    on = (
        (b_lo_x <= p_hi_x) & (b_hi_x >= p_lo_x)
        & (b_lo_y <= p_hi_y) & (b_hi_y >= p_lo_y)
    )
    if isinstance(polygons, DataFrame):
        t = F.lit(float(tile_px))
        blocks = pixel_tiles(blocks, b_lo_x, b_hi_x, b_lo_y, b_hi_y, tile_px)
        polys = pixel_tiles(
            polys, p_lo_x, p_hi_x, p_lo_y, p_hi_y, tile_px
        ).withColumnsRenamed({"ptx": "_ptx", "pty": "_pty"})
        on = (
            (F.col("ptx") == F.col("_ptx")) & (F.col("pty") == F.col("_pty")) & on
            & (F.col("ptx") == F.floor(F.greatest(b_lo_x, p_lo_x) / t))
            & (F.col("pty") == F.floor(F.greatest(b_lo_y, p_lo_y) / t))
        )
    else:
        polys = F.broadcast(polys)
    pairs = blocks.join(polys, on, how)
    return pairs.drop("ptx", "pty", "_ptx", "_pty", "p_lo_x", "p_hi_x", "p_lo_y", "p_hi_y")
