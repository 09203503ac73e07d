"""Point-in-polygon spatial join: cell-prefilter + exact refine.

The reference's flagship join is an O(tiles) nested loop of
ST_Intersects over a process pool (/root/reference/earth_data_kit/
stitching/classes/dataset.py:252-274, SURVEY.md §2.3 J1).  The
Spark-first restatement:

  1. the polygon side is one table, ``polygons.polygon_table``
     (``code, wkt, xmin, ymin, xmax, ymax``): a driver
     ``list[Polygon]`` is built straight into it, a DataFrame is
     normalized into it;
  2. cover each polygon with cells at ``res`` IN-PLAN
     (``polygons.covering_cells_df``: two explode(sequence) nodes),
     each covering row carrying its polygon's geometry columns;
  3. **broadcast** the covering (polygon side ≪ broadcast threshold
     by construction — no shuffle of the pages side at all) and
     equi-join pages on ``cell`` — Catalyst turns this into a
     BroadcastHashJoin, so the 100 TB side streams map-side;
  4. exact refine against the carried columns
     (``polygons.refine_predicate_cols``): bbox rows are codegen'd
     comparisons, WKT rows go through the vectorized ray-cast UDF —
     a term planned only when the polygon side can hold WKT.

Steps 3-4 are ``_pip``, written once over ``knn.CellScheme``: the S2
(``pip_join_s2``) and H3 (``pip_join_h3``) joins run the same body
over their own driver-built ``(code, key)`` covering, with the
polygon table's geometry attached by ``code``.

Scale notes: the join never shuffles the big side; skewed cells
(dense urban) are irrelevant to a broadcast join (skew only matters
for shuffles — the downstream groupBy(cell) aggregation uses partial
aggregation, and `salted_hot_keys` exists for true hot-key shuffles).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earth_data_kit_spark.grid import geom
from earth_data_kit_spark.operators import polygons as P
from earth_data_kit_spark.operators.knn import CellScheme, QuadScheme


@dataclass
class Polygon:
    code: str
    name: str
    wkt: str | None = None  # non-rectangular → ray-cast refine
    bbox: tuple[float, float, float, float] | None = None  # rectangle

    def envelope(self) -> tuple[float, float, float, float]:
        """(xmin, ymin, xmax, ymax): the bbox, or the WKT shell's
        bounds.  xmin > xmax marks an antimeridian-crossing bbox."""
        if self.bbox is not None:
            return self.bbox
        shell, _ = geom.parse_wkt_polygon(self.wkt)
        return geom.polygon_bbox(shell)

    def boxes(self) -> list[tuple[float, float, float, float]]:
        """The envelope as non-wrapping boxes: an antimeridian-crossing
        one splits into its two halves at ±180."""
        xmin, ymin, xmax, ymax = self.envelope()
        if xmin <= xmax:
            return [(xmin, ymin, xmax, ymax)]
        return [(xmin, ymin, 180.0, ymax), (-180.0, ymin, xmax, ymax)]


def pip_join(
    pages: DataFrame,
    polygons: "list[Polygon] | DataFrame",
    res: int = 7,
    lon_col: str = "lon",
    lat_col: str = "lat",
    broadcast_covering: bool | None = None,
) -> DataFrame:
    """pages ⋈ polygons with exact PIP semantics.

    Returns ``cell`` + pages columns + ``code`` (one output row per
    (page, polygon) containment; a page inside two polygons appears
    twice).

    ``polygons`` is a driver list (broadcast metadata — countries,
    admin regions) or a **DataFrame** (`code` + `wkt` and/or
    xmin/ymin/xmax/ymax — the million-polygon parcels case).  Either
    becomes ``polygons.polygon_table``, whose covering is generated
    IN-PLAN (zero driver materialization) and refined against the
    carried geometry columns.  When ``broadcast_covering`` is None a
    list broadcasts under ``polygons.BROADCAST_MAX_POLYGONS`` by its
    length; a DataFrame is counted (one tiny aggregate job — a
    scalar, not a materialization).

    Join-strategy selection (SURVEY.md §4 "broadcast vs shuffle"):
    the covering broadcasts while it fits the broadcast threshold
    (the normal case — coverings are polygon-side metadata); for very
    large polygon sets pass ``broadcast_covering=False`` to shuffle
    BOTH sides on ``cell`` instead — with the pages table stored
    partitioned by cell prefix (SCALE.md) that shuffle is co-located.
    """
    table = P.polygon_table(pages.sparkSession, polygons)
    if broadcast_covering is None:
        n = table.count() if isinstance(polygons, DataFrame) else len(polygons)
        broadcast_covering = n < P.BROADCAST_MAX_POLYGONS
    return _pip(
        QuadScheme(res), pages, polygons, P.covering_cells_df(table, res),
        lon_col, lat_col, broadcast=broadcast_covering,
    )


def _pip(
    scheme: CellScheme,
    pages: DataFrame,
    polygons: "list[Polygon] | DataFrame",
    covering: DataFrame,
    lon_col: str,
    lat_col: str,
    stored: str | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """The pip body every cell scheme shares: index the pages
    (``scheme.index``), equi-join the covering — ``polygon_table``
    rows keyed by the scheme key — broadcast, so the pages side never
    shuffles, then the exact refine against the carried geometry.
    The ray-cast term is planned only when ``polygons`` can hold WKT:
    always for a DataFrame, for a list only if one polygon has no
    bbox.  Output ``cell, <pages columns>, code`` (plus any
    non-geometry polygon columns)."""
    ray_cast = isinstance(polygons, DataFrame) or any(p.bbox is None for p in polygons)
    cand = scheme.index(pages, lon_col, lat_col, stored).join(
        F.broadcast(covering) if broadcast else covering, scheme.key
    )
    geometry = (scheme.key, "cell", "wkt", "xmin", "ymin", "xmax", "ymax")
    rest = [c for c in cand.columns if c not in geometry]
    refine = P.refine_predicate_cols(lon_col, lat_col, ray_cast)
    return cand.where(refine).select(scheme.output_cell(), *rest)


def salted_hot_keys(
    df: DataFrame,
    key: str,
    hot_threshold: int,
    salt_buckets: int,
    salt_cols: list[str] | None = None,
    sample_fraction: float | None = None,
    probe_df: DataFrame | None = None,
    probe_scale: float = 1.0,
    hot: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Skew tooling (SURVEY.md §4 skew row): detect keys above a count
    threshold and return (df + salted_key column, hot_keys df).

    ``salted_key`` = key for cold keys, key⊕salt for hot ones — use it
    as the shuffle key for joins/aggs whose per-key state is large,
    then merge partials by the true key.  AQE skew-join remains the
    runtime backstop (enabled in session.py).

    The salt is ``pmod(xxhash64(salt_cols), salt_buckets)`` — pure row
    content, so a task retry/speculative re-run salts every row the
    same way (SURVEY.md §4's recipe).  Never derive the salt from
    ``monotonically_increasing_id()``/``rand()``: those are
    nondeterministic across retries, and a recomputed partition that
    re-salts mid-shuffle duplicates or drops rows downstream.
    ``salt_cols`` defaults to all columns except ``key`` (uniform
    within a hot key as long as rows aren't full duplicates; pass an
    explicit row-id column for duplicate-heavy data).
    """
    salt_cols = salt_cols or [c for c in df.columns if c != key]
    if not salt_cols:
        raise ValueError("salted_hot_keys needs at least one non-key column to salt by")
    # hot detection: exact by default; at scale pass sample_fraction
    # so the detection pass reads a fraction of the table (threshold
    # scaled accordingly).  Correctness is INVARIANT to the detected
    # set — salting more or fewer keys only moves work between the
    # partial and final aggregations — so sampling is always safe.
    # Two cheaper probe shapes (VERDICT r3 task 1: sampling prunes
    # ROWS, not I/O — sample(0.02) over a wide scan still reads every
    # byte): ``probe_df`` detects over a smaller frame known to have
    # proportional key counts (e.g. the pre-self-union base table,
    # with ``probe_scale`` = df rows / probe rows), and ``hot``
    # bypasses detection entirely with a precomputed key list (the
    # at-scale posture: detect once at ingest, store, reuse per
    # query).
    if hot is None:
        probe = probe_df if probe_df is not None else df
        thresh = float(hot_threshold) / probe_scale
        if sample_fraction is not None:
            probe = probe.sample(fraction=sample_fraction, seed=42)
            thresh = thresh * sample_fraction
        hot = (
            probe.groupBy(key)
            .count()
            .where(F.col("count") >= thresh)
            .select(key, F.lit(True).alias("is_hot"))
        )
    else:
        hot = hot.select(key).withColumn("is_hot", F.lit(True))
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt_buckets))
    out = (
        df.join(F.broadcast(hot), key, "left")
        .withColumn(
            "salted_key",
            F.when(
                F.col("is_hot").isNotNull(),
                F.concat_ws("_", F.col(key).cast("string"), salt.cast("string")),
            ).otherwise(F.col(key).cast("string")),
        )
        .drop("is_hot")
    )
    return out, hot
