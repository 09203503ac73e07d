"""H3 cell scheme for the spatial joins over the REAL H3-class hex
index (grid/h3.py).

``H3Scheme(res)`` supplies the ``knn.CellScheme`` members, and
``pip_join_h3`` / ``knn_join_h3`` / ``radius_join_h3`` run the shared
pip / kNN / radius bodies over it — the north rule's "kNN queries (H3
k-ring expansion with distance re-rank)" on the genuine aperture-7
icosahedral hex grid.  What the scheme supplies:

* key ``_h3c`` — the res-``res`` cell id, which is also the output
  ``cell``;
* point key — one vectorized Arrow pass (``h3_cell_udf``), or a
  stored ``cell_col`` (zero Python at query time);
* polygon covering — each polygon's adaptive coarse cap covering
  (``_covering_for_polygon``), uncompacted to ``res`` and clipped to
  the circumradius-inflated envelope; ``pip_join_h3`` attaches the
  polygon table's geometry to it by ``code`` for the shared refine;
* query rings — per-row ``cover_cap`` inside an Arrow UDF + explode,
  so rings materialize wherever the QUERY rows live;
* radius reach — the radius itself; auto-grow need — the k-th
  distance once it fits the cover, else double the radius.

Exactness contract: ``cover_cap`` is a guaranteed SUPERSET of the
cells of all points within the cover radius (grid/h3.py — Lipschitz-
bounded gnomonic enumeration, property-tested across icosahedron
vertices/edges in tests/test_h3.py), so results are exact within the
cover radius.  Unlike the quadgrid and S2 schemes (square cells,
ring = integer levels) the H3 reach is the cover RADIUS itself —
continuous, so auto-grow converges to the k-th distance directly
instead of to the next ring that covers it.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from earth_data_kit_spark.grid import geom, h3
from earth_data_kit_spark.operators.knn import CellScheme, _knn, _radius
from earth_data_kit_spark.operators.polygons import polygon_table
from earth_data_kit_spark.operators.spatial_join import _pip


def h3_cell_udf(res: int):
    """Arrow-vectorized (lon, lat) → H3-class cell id.  Registered
    non-deterministic for one Arrow node per plan (see
    ``s2_leaf_udf``)."""

    @pandas_udf("long")
    def _udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(h3.latlng_to_cell(lat.to_numpy(), lon.to_numpy(), res))

    return _udf.asNondeterministic()


def res_for_radius(radius_m: float, target_cells: int = 200) -> int:
    """Finest res whose cover of ``radius_m`` stays ≈ ``target_cells``
    per query (cover cell count grows ~(radius/pitch)²)."""
    for res in range(h3.MAX_RES, -1, -1):
        approx = 3.5 * (radius_m / h3.min_cell_pitch_m(res)) ** 2 + 10
        if approx <= target_cells:
            return res
    return 0


def _poly_caps(poly) -> list[tuple[float, float, float]]:
    """(clat, clon, radius_m) caps whose union encloses the polygon's
    envelope.  Antimeridian boxes split into two halves; elongated
    boxes chunk along their long axis into ~square tiles so the caps
    hug the box instead of one half-diagonal cap blowing the area up
    ~(aspect)× (a US-wide box is ~2.4:1)."""
    caps = []
    for bx in poly.boxes():
        midlat = (bx[1] + bx[3]) / 2.0
        w = (bx[2] - bx[0]) * max(0.05, math.cos(math.radians(midlat)))
        hgt = bx[3] - bx[1]
        nx = max(1, min(16, round(w / max(hgt, 1e-9)))) if hgt > 0 else min(16, int(w / 5) + 1)
        ny = max(1, min(16, round(hgt / max(w, 1e-9)))) if w > 0 else min(16, int(hgt / 5) + 1)
        if nx > 1:
            ny = 1
        step_x = (bx[2] - bx[0]) / nx
        step_y = (bx[3] - bx[1]) / ny
        for i in range(nx):
            for j in range(ny):
                sub = (
                    bx[0] + i * step_x,
                    bx[1] + j * step_y,
                    bx[0] + (i + 1) * step_x,
                    bx[1] + (j + 1) * step_y,
                )
                cx, cy = (sub[0] + sub[2]) / 2.0, (sub[1] + sub[3]) / 2.0
                rad = max(
                    geom.haversine_m(cy, cx, by, bxx)
                    for by in (sub[1], sub[3])
                    for bxx in (sub[0], sub[2])
                )
                caps.append((cy, cx, rad * 1.001 + 1.0))
    return caps


def _covering_for_polygon(
    poly, res_max: int, max_cells: int = 8192
) -> tuple[int, "object"]:
    """(res, unique covering cells) at the FINEST res ≤ ``res_max``
    whose actual unique covering stays ≤ ``max_cells``.  Walks fine →
    coarse; a res whose pre-dedup enumeration bound
    (``h3.cover_cap_count``) exceeds 50·max_cells is skipped without
    materializing (that bound is loose — face overlap + the gnomonic
    Lipschitz inflation — but 50× slack keeps the enumerate-and-dedup
    cost trivial while letting the decision ride on the TRUE size).
    A city polygon keeps ``res_max``; a continent drops to the res
    where its covering is a few thousand broadcastable rows instead
    of millions."""
    caps = _poly_caps(poly)
    best = None
    for r in range(res_max, -1, -1):
        bound = sum(h3.cover_cap_count(la, lo, rm, r) for la, lo, rm in caps)
        if bound > 50 * max_cells:
            continue
        cells = np.unique(
            np.concatenate([h3.cover_cap(la, lo, rm, r) for la, lo, rm in caps])
        )
        best = (r, cells)
        if len(cells) <= max_cells:
            return best
    if best is not None:
        return best  # coarsest materialized (res 0 worst case: ~10² cells)
    # unreachable in practice: res-0 enumeration is always tiny
    cells = np.unique(
        np.concatenate([h3.cover_cap(la, lo, rm, 0) for la, lo, rm in caps])
    )
    return 0, cells


def h3_cells_udf(res_list: list[int]):
    """Arrow-vectorized (lon, lat) → array of H3-class cell ids, one
    per res in ``res_list`` (one Python pass stamps every needed
    resolution — the multi-res ingest indexer)."""
    rs = list(res_list)

    @pandas_udf("array<long>")
    def _udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        la, lo = lat.to_numpy(), lon.to_numpy()
        cols = np.stack([h3.latlng_to_cell(la, lo, r) for r in rs], axis=1)
        return pd.Series(list(cols))

    return _udf


class H3Scheme(CellScheme):
    """H3-class hex cells at ``res``; the reach is a cover radius."""

    key = "_h3c"

    def __init__(self, res: int, max_cover_cells: int = 8192):
        self.res = res
        self.max_cover_cells = max_cover_cells

    def point_key(self, lon_col: str, lat_col: str, stored: str | None) -> F.Column:
        if stored is None:
            return h3_cell_udf(self.res)(F.col(lon_col), F.col(lat_col))
        return F.col(stored.format(res=self.res) if "{res}" in stored else stored)

    def output_cell(self) -> F.Column:
        return F.col(self.key).alias("cell")

    def covering(self, spark: SparkSession, polygons) -> DataFrame:
        """(code, _h3c) rows: each polygon's adaptive coarse covering
        (bounded driver work even for continents) UNCOMPACTED to
        res-``res`` cells (``h3.uncompact`` — vectorized,
        superset-proved), so the pages side joins one narrow key."""
        # a page in the bbox has its res-cell center within one on-sphere
        # cell circumradius of a bbox point, so clipping covering cells to
        # the circumradius-inflated bbox preserves the superset while
        # dropping the cap covering's π·r² vs 2rx·2ry slop (plus the
        # uncompact rim) — the step that brings hex candidate volume down
        # to the quadgrid covering's
        rad_deg = math.degrees(h3.pitch(self.res) / h3.SQRT3 * 1.01) + 1e-6
        rows = []
        for poly in polygons:
            _, coarse = _covering_for_polygon(poly, self.res, self.max_cover_cells)
            cells = np.unique(h3.uncompact(coarse, self.res))
            clat, clon = h3.cell_center(cells)
            keep = np.zeros(len(cells), dtype=bool)
            for bx in poly.boxes():
                # longitude margin sized at the rad-inflated edge latitude
                # with NO floor (ADVICE r6 high): the old max(0.05, cos(lat))
                # floor under-covered above ~87° — a covering cell's center
                # can sit far outside dlon while the cell still contains
                # in-bbox points, silently breaking the superset contract.
                # When the inflated band reaches the pole the longitude
                # test is meaningless: keep every longitude.
                lat_edge = min(89.99, max(abs(bx[1]), abs(bx[3])) + rad_deg)
                coslat = math.cos(math.radians(lat_edge))
                dlon = (
                    360.0
                    if math.sin(math.radians(rad_deg)) >= coslat
                    else rad_deg / coslat
                )
                lat_ok = (clat >= bx[1] - rad_deg) & (clat <= bx[3] + rad_deg)
                lon_ok = np.zeros(len(cells), dtype=bool)
                for shift in (-360.0, 0.0, 360.0):  # centers wrapped across ±180
                    lon_ok |= (clon + shift >= bx[0] - dlon) & (clon + shift <= bx[2] + dlon)
                keep |= lat_ok & lon_ok
            rows += [(poly.code, int(c)) for c in cells[keep]]
        # a pandas frame plans as a LocalTableScan (a Python list would
        # ship as a Python RDD, Scan ExistingRDD, on every join)
        pdf = pd.DataFrame(rows, columns=["code", "_h3c"]).astype({"_h3c": "int64"})
        return spark.createDataFrame(pdf, "code string, _h3c bigint")

    def query_cells(self, queries: DataFrame, radius_m: float) -> DataFrame:
        """Explode each query row to its cover-cap cells — an Arrow UDF
        over the QUERY table (no driver materialization)."""
        res = self.res

        @pandas_udf("array<long>")
        def _cover(qlat: pd.Series, qlon: pd.Series, r: pd.Series) -> pd.Series:
            lats, lons, rads = qlat.to_numpy(), qlon.to_numpy(), r.to_numpy()
            return pd.Series(
                [
                    h3.cover_cap(float(la), float(lo), float(rm), res).tolist()
                    for la, lo, rm in zip(lats, lons, rads)
                ]
            )

        return queries.select(
            "query_id",
            "qlat",
            "qlon",
            F.explode(_cover(F.col("qlat"), F.col("qlon"), F.lit(float(radius_m)))).alias("_h3c"),
        )

    def radius_reach(self, radius_m: float) -> float:
        return radius_m

    def grow_need(self, radius_m: float, max_radius_m: float, k: int) -> F.Column:
        """k candidates whose k-th distance fits the cover → that query
        is done (its needed radius is dk); starved (dk null — fewer
        than k candidates, incl. zero) → double."""
        return F.when(
            F.col("dk").isNotNull() & (F.col("dk") <= F.lit(radius_m)),
            F.col("dk"),
        ).otherwise(F.lit(radius_m * 2.0))


def knn_join_h3(
    points: DataFrame,
    queries,
    k: int,
    res: int | None = None,
    radius_m: float = 100_000.0,
    id_col: str = "page_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_col: str | None = None,
    auto_grow: bool = False,
    max_radius_m: float = 21_000_000.0,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-K nearest points per query over the H3-class hex index.

    ``queries`` is a DataFrame ``(query_id, qlat, qlon)`` or a python
    list of ``(id, lat, lon)``.  Results are exact within
    ``radius_m`` of each query; with ``auto_grow=True`` the radius
    doubles (one probe aggregate + ONE driver scalar per iteration)
    until every query's k-th candidate distance is inside the cover —
    then exactness is unconditional.  Output: (query_id, rank,
    <id_col>, dist_m)."""
    if res is None:
        res = res_for_radius(radius_m)
    return _knn(
        H3Scheme(res), points, queries, k, radius_m, max_radius_m, id_col,
        lon_col, lat_col, cell_col, auto_grow, broadcast_queries,
    )


def pip_join_h3(
    pages: DataFrame,
    polygons,
    res: int = 4,
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_col: str | None = None,
    max_cover_cells: int = 8192,
) -> DataFrame:
    """pages ⋈ polygons over the H3-class covering: same output
    contract as ``spatial_join.pip_join`` (``cell`` + pages columns +
    ``code``) and the same exact refine over the same polygon table
    (``polygons.polygon_table``, attached by ``code``) — the flagship join
    on its third index (quadgrid / S2 / H3 — engine-parity pinned in
    tests/test_h3.py).

    The covering is ADAPTIVE per polygon (``_covering_for_polygon``):
    big polygons cover at a coarser res so driver work stays bounded
    (the H3 analog of pip_join_s2's size-derived join level), then
    uncompact to ``res`` so the join is a single broadcast equi-join
    on one narrow key — no pages-side explode, no multi-column scan
    (the r6 first cut exploded pages × |res_used| and scanned three
    ancestor columns: 2× slower at sf0.1).

    ``cell_col`` names the stored pages-side index (zero Python at
    query time): a plain column holding res-``res`` ids, or a format
    string like ``"h3_cell_r{res}"`` (the multi-res ingest layout
    ``h3_cells_udf`` stamps — only the res-``res`` column is read)."""
    scheme, spark = H3Scheme(res, max_cover_cells), pages.sparkSession
    covering = scheme.covering(spark, polygons).join(polygon_table(spark, polygons), "code")
    return _pip(scheme, pages, polygons, covering, lon_col, lat_col, cell_col)


def radius_join_h3(
    points: DataFrame,
    queries,
    radius_m: float,
    res: int | None = None,
    id_col: str = "page_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_col: str | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """All points within ``radius_m`` of each query — exact by the
    cover_cap superset contract + haversine refine.  Output
    (query_id, <id_col>, dist_m)."""
    if res is None:
        res = res_for_radius(radius_m)
    return _radius(
        H3Scheme(res), points, queries, radius_m, id_col, lon_col, lat_col,
        cell_col, broadcast_queries,
    )
