"""kNN: k-ring candidate expansion + haversine re-rank (north_rule).

Absent in the reference (SURVEY.md §2.3 last row); the Spark-native
design — a true table-to-table JOIN (VERDICT r4 task 1):

  1. the QUERIES are a DataFrame ``(query_id, qlat, qlon)``; each
     query row expands to its quadgrid k-ring cells with pure Column
     arithmetic (``QuadScheme.query_cells``: explode over two tiny
     sequences — no driver-side ring materialization, so a
     million-row query table distributes like any other join side);
  2. equi-join points on cell — broadcast for bounded query batches,
     shuffle-on-cell for query tables too big to broadcast
     (``broadcast_queries=False``);
  3. exact haversine distance as a codegen'd Column expression;
  4. ``row_number()`` top-k (``_topk``) — one window whose ≤k
     filter is pruned MAP-SIDE by WindowGroupLimit, so the only
     shuffle carries ≤ k rows per (query, map partition).

Auto-grow no longer collects per-query stats: the grow decision is a
Column over a per-query aggregate joined back to the query table
(first-satisfying-ring via ``F.filter`` on a ring sequence), and the
driver loop reads ONE scalar per iteration (the max needed ring).

A plain python ``list[(qid, lat, lon)]`` is still accepted everywhere
and is converted to a (tiny) DataFrame first.

The kNN and radius bodies (``_knn``, ``_radius``) are written once
over ``CellScheme`` — the cell math a join needs — and shared by the
quadgrid (``QuadScheme``, here), S2 (``spatial_join_s2.S2Scheme``)
and H3 (``spatial_join_h3.H3Scheme``) entry points.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from earth_data_kit_spark.functions.columns import (
    RES_SHIFT_MULT,
    X_SHIFT_MULT,
    cell_id_col,
    haversine_m_col,
)
from earth_data_kit_spark.grid import cells
from earth_data_kit_spark.grid.cells import nx_ny
from earth_data_kit_spark.grid.geom import EARTH_RADIUS_M, METERS_PER_DEGREE

_M_PER_DEG = math.pi / 180.0 * EARTH_RADIUS_M  # meridional meters/degree


def queries_df(spark: SparkSession, queries) -> DataFrame:
    """Normalize the queries argument: a DataFrame with columns
    ``(query_id, qlat, qlon)`` passes through; a python list of
    ``(query_id, lat, lon)`` tuples becomes a small DataFrame."""
    if isinstance(queries, DataFrame):
        missing = {"query_id", "qlat", "qlon"} - set(queries.columns)
        if missing:
            raise ValueError(f"queries DataFrame missing columns {sorted(missing)}")
        return queries.select("query_id", "qlat", "qlon")
    # from pandas, not a row list: with Arrow on this plans as a local
    # table scan instead of a Python RDD
    rows = [(int(q), float(la), float(lo)) for q, la, lo in queries]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "qlat", "qlon"]),
        "query_id bigint, qlat double, qlon double",
    )


def ring_for_radius(radius_m: float, res: int, at_lat: float = 0.0) -> int:
    """Smallest ring count whose cells cover a radius at a latitude.

    Sized at the WORST-case latitude reachable within the radius
    (``|lat| + radius/METERS_PER_DEGREE``), where the longitudinal
    meter-width of a cell is smallest — sizing at the query's own
    latitude under-covers poleward radii.  When the radius reaches the pole the ring
    spans the full longitude circle (the wrap is handled by the ring
    enumeration), so the join stays exact at any latitude."""
    cell_deg = 180.0 / (1 << res)
    nx = 2 << res
    full_lon = (nx + 1) // 2  # 2k+1 >= nx → ring covers every column
    radius_deg = radius_m / METERS_PER_DEGREE
    lat_reach = abs(at_lat) + radius_deg
    y_ring = max(1, math.ceil(radius_deg / cell_deg))
    if lat_reach >= 89.9:
        return max(y_ring, full_lon)
    deg = radius_deg / math.cos(math.radians(lat_reach))
    return max(1, min(max(full_lon, y_ring), math.ceil(deg / cell_deg)))


class CellScheme:
    """The cell math one spatial join needs — the protocol the shared
    kNN / radius (here) and pip (``spatial_join._pip``) bodies are
    written against.  A scheme supplies:

    * ``key`` — the join-key column name;
    * ``point_key(lon_col, lat_col, stored)`` — a point's key as a
      Column, from lon/lat or from a stored index column;
    * ``output_cell()`` — the ``cell`` output Column, from the key;
    * ``query_cells(queries, reach)`` — ``(query_id, qlat, qlon, key)``
      ring rows;
    * ``radius_reach(radius_m)`` — the reach that covers a radius;
    * ``grow_need(reach, max_reach, k)`` — the per-query needed reach
      the auto-grow probe maximizes (over ``qlat``, ``n``, ``dk``);
    * ``prefilter(query_list, reach)`` — an exact key IN-list for a
      list query batch, or None.
    """

    key: str

    def index(self, df: DataFrame, lon_col: str, lat_col: str, stored: str | None) -> DataFrame:
        """``df`` + the join-key column — the one point-indexing step."""
        return df.withColumn(self.key, self.point_key(lon_col, lat_col, stored))

    def prefilter(self, query_list: list, reach) -> list | None:
        return None


class QuadScheme(CellScheme):
    """Quadgrid cells at ``res`` — pure Column math on both sides."""

    key = "cell"

    def __init__(self, res: int):
        self.res = res

    def point_key(self, lon_col: str, lat_col: str, stored: str | None) -> "F.Column":
        if stored is not None:
            return F.col(stored)
        return cell_id_col(F.col(lon_col), F.col(lat_col), self.res)

    def output_cell(self) -> "F.Column":
        return F.col("cell")

    def query_cells(self, queries: DataFrame, ring) -> DataFrame:
        """k-ring cell expansion of a query table — PURE Column plan.

        ``ring`` is an int (same ring for all queries) or a Column
        (per-query, e.g. ``radius_reach``).  Enumerates
        ``span = min(2·ring+1, nx)`` columns per query as
        ``(qx - ⌊(span-1)/2⌋ + dx) mod nx`` — identical cell set to
        ``grid.cells.k_ring`` including the full-longitude wrap case,
        where every column appears exactly once — and ``2·ring+1``
        rows clamped at the poles.  Two ``explode(sequence(...))``
        nodes, no Python, no driver loop: the expansion runs wherever
        the query rows live (VERDICT r4 task 1)."""
        res = self.res
        nx, ny = nx_ny(res)
        ringc = (F.lit(int(ring)) if isinstance(ring, int) else ring).cast("bigint")
        qx = F.least(
            F.greatest(
                F.floor((F.col("qlon") + 180.0) / 360.0 * nx).cast("bigint"), F.lit(0)
            ),
            F.lit(nx - 1),
        )
        qy = F.least(
            F.greatest(
                F.floor((F.lit(90.0) - F.col("qlat")) / 180.0 * ny).cast("bigint"), F.lit(0)
            ),
            F.lit(ny - 1),
        )
        span = F.least(F.lit(2).cast("bigint") * ringc + 1, F.lit(nx).cast("bigint"))
        base = queries.select(
            "query_id",
            "qlat",
            "qlon",
            qx.alias("_qx"),
            qy.alias("_qy"),
            span.alias("_span"),
            ringc.alias("_ring"),
        )
        ex = base.withColumn(
            "_dx", F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("_span") - 1))
        )
        xx = F.pmod(
            F.col("_qx") - F.floor((F.col("_span") - 1) / 2).cast("bigint") + F.col("_dx"),
            F.lit(nx).cast("bigint"),
        )
        ex = ex.withColumn("_xx", xx).withColumn(
            "_dy",
            F.explode(F.sequence(F.lit(0).cast("bigint"), F.lit(2).cast("bigint") * F.col("_ring"))),
        )
        yy = F.col("_qy") - F.col("_ring") + F.col("_dy")
        ex = ex.withColumn("_yy", yy).where((F.col("_yy") >= 0) & (F.col("_yy") < ny))
        cell = (
            F.lit(res).cast("bigint") * F.lit(RES_SHIFT_MULT)
            + F.col("_xx") * F.lit(X_SHIFT_MULT)
            + F.col("_yy")
        )
        return ex.select("query_id", "qlat", "qlon", cell.alias("cell"))

    def radius_reach(self, radius_m: float) -> "F.Column":
        """Column twin of ``ring_for_radius`` — per-query ring sizing
        inside the plan (same arithmetic term for term)."""
        cell_deg = 180.0 / (1 << self.res)
        nx = 2 << self.res
        full_lon = (nx + 1) // 2
        radius_deg = radius_m / METERS_PER_DEGREE
        y_ring = max(1, math.ceil(radius_deg / cell_deg))
        lat_reach = F.abs(F.col("qlat")) + F.lit(radius_deg)
        ring_else = F.greatest(
            F.lit(1).cast("bigint"),
            F.least(
                F.lit(max(full_lon, y_ring)).cast("bigint"),
                F.ceil(F.lit(radius_deg) / F.cos(F.radians(lat_reach)) / F.lit(cell_deg)),
            ),
        )
        return F.when(
            lat_reach >= 89.9, F.lit(max(y_ring, full_lon)).cast("bigint")
        ).otherwise(ring_else)

    def grow_need(self, ring: int, max_ring: int, k: int) -> "F.Column":
        """≥k candidates → smallest ring in [ring, max_ring] whose safe
        radius covers dk (first satisfying element of the ring
        sequence — exact parity with a linear scan); starved → scale
        by sqrt(k/n) (candidates grow ~ring²)."""
        cell_deg = 180.0 / (1 << self.res)

        def safe_m(r):
            # lower bound (m) on the distance from any query inside the
            # center cell to any point OUTSIDE ring r:
            # (r-1)·cell_deg·m/deg·cos(edge_lat), edge_lat the highest
            # |lat| the ring can reach
            rd = r.cast("double")
            edge = F.least(F.lit(89.0), F.abs(F.col("qlat")) + rd * F.lit(cell_deg))
            return (
                (rd - 1.0)
                * F.lit(cell_deg)
                * F.lit(_M_PER_DEG)
                * F.least(F.lit(1.0), F.cos(F.radians(edge)))
            )

        sat = F.filter(F.sequence(F.lit(ring), F.lit(max_ring)), lambda r: safe_m(r) >= F.col("dk"))
        # try_element_at: the satisfying-ring array is EMPTY when no
        # ring in range covers dk (ANSI element_at would throw)
        need_cov = F.coalesce(F.try_element_at(sat, F.lit(1)), F.lit(max_ring))
        grow = F.greatest(
            F.lit(2.0),
            F.sqrt((F.lit(k) + 1.0) / F.greatest(F.coalesce(F.col("n"), F.lit(0)), F.lit(1)).cast("double")),
        )
        return F.when(F.col("dk").isNotNull(), need_cov).otherwise(F.ceil(F.lit(ring) * grow))

    def prefilter(self, query_list: list, ring: int) -> list | None:
        """Exact ring-cell set for a LIST query batch (k_ring is
        parity-tested against query_cells incl. the wrap cases); None
        when the expansion would be large.  An IN-list on a stored
        cell column reaches the parquet scan (PushedFilters), so a
        cell-sorted index layout skips whole row groups before the
        join."""
        if len(query_list) * (2 * ring + 1) ** 2 > 200_000:
            return None
        out = set()
        for _qid, qlat, qlon in query_list:
            out.update(cells.k_ring(cells.cell_id_single(qlon, qlat, self.res), ring))
        return sorted(out)


def _knn(
    scheme: CellScheme,
    points: DataFrame,
    queries,
    k: int,
    reach,
    max_reach,
    id_col: str,
    lon_col: str,
    lat_col: str,
    stored: str | None,
    auto_grow: bool,
    broadcast_queries: bool,
) -> DataFrame:
    """The kNN body every scheme shares: narrow indexed points ⋈ the
    query rings on the scheme key, haversine, ``_topk``.  ``reach``
    is the scheme's ring (or cover radius); ``auto_grow`` widens it
    until every query's k-th candidate is inside the exact reach."""
    query_list = None if isinstance(queries, DataFrame) else list(queries)
    qdf = queries_df(points.sparkSession, queries if query_list is None else query_list)
    pts = scheme.index(points, lon_col, lat_col, stored).select(
        id_col, lon_col, lat_col, scheme.key
    )
    dist = haversine_m_col(F.col("qlat"), F.col("qlon"), F.col(lat_col), F.col(lon_col))

    def _cand(r) -> DataFrame:
        rings = scheme.query_cells(qdf, r)
        pf = None if query_list is None else scheme.prefilter(query_list, r)
        p = pts if pf is None else pts.where(F.col(scheme.key).isin(pf))
        return p.join(F.broadcast(rings) if broadcast_queries else rings, scheme.key)

    if auto_grow:
        # the growth loop re-joins the indexed points once per
        # iteration — persist the (projected) index so every probe
        # reads the in-memory columns instead of rescanning the source
        pts = pts.persist()
    try:
        while auto_grow and reach < max_reach:
            # ONE job per iteration: per-query candidate count (plain
            # hash agg — map-side partial, no skew) and k-th distance
            # (via _topk's map-side-pruned window, NOT an unpruned window
            # over all candidates, which would funnel a dense cell's
            # millions of rows into one partition), LEFT-joined back
            # to the query table (zero-candidate queries must surface
            # as starved), the needed reach as a Column, one MAX
            # scalar collected.
            scored0 = _cand(reach).withColumn("dist_m", dist)
            n_df = scored0.groupBy("query_id").agg(F.count("*").alias("n"))
            dk_df = (
                _topk(scored0.select("query_id", id_col, "dist_m"), k, id_col)
                .where(F.col("rank") == k)
                .select("query_id", F.col("dist_m").alias("dk"))
            )
            full = qdf.join(n_df, "query_id", "left").join(dk_df, "query_id", "left")
            need = scheme.grow_need(reach, max_reach, k)
            mx = full.agg(F.max(need).alias("need")).first()["need"]
            if mx is None or mx <= reach:
                break
            reach = min(max_reach, mx)
        cand = _cand(reach)
    finally:
        if auto_grow:
            # cache lifetime ends with the growth loop: every probe
            # pass read the in-memory index; the FINAL pass (the
            # returned lazy DataFrame) re-scans the source once —
            # same cost as the non-auto-grow path — instead of
            # pinning executor cache forever (ADVICE r2: repeated
            # calls in a long session accumulated cache)
            pts.unpersist()

    scored = cand.withColumn("dist_m", dist).select("query_id", id_col, "dist_m")
    return _topk(scored, k, id_col)


def knn_join(
    points: DataFrame,
    queries,
    k: int,
    res: int = 7,
    ring: int = 2,
    id_col: str = "page_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    auto_grow: bool = False,
    max_ring: int = 64,
    broadcast_queries: bool = True,
    cell_col: str | None = None,
) -> DataFrame:
    """Top-K nearest points per query → columns (query_id, rank,
    <id_col>, dist_m).  ``queries`` is a DataFrame ``(query_id, qlat,
    qlon)`` (table-to-table join — distributes at any query count) or
    a python list of tuples (converted).  Exact within the ring
    radius; ``auto_grow`` verifies sufficiency per query and widens —
    the grow decision is computed IN the plan (per-query aggregate
    joined back to the query table) and the driver reads one scalar
    per iteration.  ``broadcast_queries=False`` switches the
    candidate join to a shuffle on ``cell`` for query tables too
    large to broadcast.  ``cell_col`` names a PRECOMPUTED quadgrid
    cell column at this ``res`` (the stored-index layout — cell
    stamped once at ingest, the pip_join_s2 stored-leaf pattern), in
    which case the scan carries zero per-query index math."""
    return _knn(
        QuadScheme(res), points, queries, k, ring, max_ring, id_col, lon_col,
        lat_col, cell_col, auto_grow, broadcast_queries,
    )


def _topk(
    scored: DataFrame,
    k: int,
    id_col: str,
    qid_col: str = "query_id",
    order_col: str = "dist_m",
    descending: bool = False,
) -> DataFrame:
    """Top-k per query — one window, pruned map-side by Spark's
    ``WindowGroupLimit`` (SPARK-37099, 3.5+): a ``row_number() ≤ k``
    filter makes every MAP partition sort its slice and keep only its
    own top-k per query BEFORE the exchange, so the per-query final
    partition receives ≤ k·M rows (M = map partitions), never the
    full candidate set — the skew funnel a bare window had on 3.4-.

    r7 measurement (plans/r07/knn_{before,after}.txt; 16.4M candidates,
    two of ten queries hot): the r2-era two-level bucketed form —
    level-1 window over (query_id, pmod(xxhash64(id), B)) then a
    final rank — measured 3.30 s vs 2.14 s for this single window,
    because WindowGroupLimit already does the map-side reduction the
    bucket level re-implemented, while the bucket level let k·B·M
    rows through its exchange (B× more shuffle) and paid a second
    sort of k·B·M rows.  At-scale arithmetic: with M = 10⁶ map
    partitions and k = 10 the final per-query partition is ≤ 10⁷
    narrow rows (~240 MB) — one bounded sort task per query, and
    strictly FEWER shuffled bytes than the two-level form's k·B·M.
    """
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    order = [oc, F.col(id_col).asc()]
    w = Window.partitionBy(qid_col).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, order_col)
    )


def _radius(
    scheme: CellScheme,
    points: DataFrame,
    queries,
    radius_m: float,
    id_col: str,
    lon_col: str,
    lat_col: str,
    stored: str | None,
    broadcast_queries: bool,
) -> DataFrame:
    """The radius body every scheme shares: indexed points ⋈ rings
    sized to cover ``radius_m`` (``scheme.radius_reach``), then the
    exact haversine filter.  Output (query_id, <id_col>, dist_m)."""
    qdf = queries_df(points.sparkSession, queries)
    rings = scheme.query_cells(qdf, scheme.radius_reach(radius_m))
    pts = scheme.index(points, lon_col, lat_col, stored).select(
        id_col, lon_col, lat_col, scheme.key
    )
    dist = haversine_m_col(F.col("qlat"), F.col("qlon"), F.col(lat_col), F.col(lon_col))
    return (
        pts.join(F.broadcast(rings) if broadcast_queries else rings, scheme.key)
        .withColumn("dist_m", dist)
        .where(F.col("dist_m") <= radius_m)
        .select("query_id", id_col, "dist_m")
    )


def radius_join(
    points: DataFrame,
    queries,
    radius_m: float,
    res: int = 7,
    id_col: str = "page_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Range join: all points within ``radius_m`` of each query —
    exact, because each query's ring is sized IN the plan to cover
    the radius at its latitude (``QuadScheme.radius_reach``) and the
    haversine filter refines.  ``queries`` is a DataFrame or a list;
    with a DataFrame the ring expansion is Column-only, so the join
    distributes at any query count.  Output: (query_id, <id_col>,
    dist_m)."""
    return _radius(
        QuadScheme(res), points, queries, radius_m, id_col, lon_col, lat_col,
        None, broadcast_queries,
    )


def knn_brute_force(
    points: DataFrame,
    queries,
    k: int,
    id_col: str = "page_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """O(points × queries) oracle: broadcast the queries, window topk.
    Also the correct plan when queries are few and no cell index
    exists yet (one scan, no index build)."""
    spark = points.sparkSession
    qdf = queries_df(spark, queries)
    dist = haversine_m_col(F.col("qlat"), F.col("qlon"), F.col(lat_col), F.col(lon_col))
    scored = (
        points.crossJoin(F.broadcast(qdf))
        .withColumn("dist_m", dist)
        .select("query_id", id_col, "dist_m")
    )
    return _topk(scored, k, id_col)
