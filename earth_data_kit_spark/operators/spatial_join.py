"""Point-in-polygon spatial join: cell-prefilter + exact refine.

The reference's flagship join is an O(tiles) nested loop of
ST_Intersects over a process pool (/root/reference/earth_data_kit/
stitching/classes/dataset.py:252-274, SURVEY.md §2.3 J1).  The
Spark-first restatement:

  1. cover each polygon with quadgrid cells at ``res``
     (superset covering, driver-side — polygons are small);
  2. explode to a (code, cell) DataFrame and **broadcast** it
     (polygon side ≪ broadcast threshold by construction — no
     shuffle of the pages side at all);
  3. equi-join pages on ``cell`` — Catalyst turns this into a
     BroadcastHashJoin, so the 100 TB side streams map-side;
  4. exact refine: bbox test as a pure Column predicate (codegen),
     ray-cast pandas UDF only for non-rectangular polygons.

Steps 2-4 are ``_pip``, written once over ``knn.CellScheme``: the S2
(``pip_join_s2``) and H3 (``pip_join_h3``) joins run the same body
with their own covering and point key.

Scale notes: the join never shuffles the big side; skewed cells
(dense urban) are irrelevant to a broadcast join (skew only matters
for shuffles — the downstream groupBy(cell) aggregation uses partial
aggregation, and `salted_hot_keys` exists for true hot-key shuffles).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earth_data_kit_spark.functions.udfs import pip_refine_udf
from earth_data_kit_spark.grid import cells, geom
from earth_data_kit_spark.operators.knn import CellScheme, QuadScheme


@dataclass
class Polygon:
    code: str
    name: str
    wkt: str | None = None  # non-rectangular → ray-cast refine
    bbox: tuple[float, float, float, float] | None = None  # rectangle

    def covering(self, res: int) -> list[int]:
        if self.bbox is not None:
            return cells.covering_bbox(*self.bbox, res)
        shell, _ = geom.parse_wkt_polygon(self.wkt)
        return cells.covering_polygon([tuple(p) for p in shell], res)

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
    covering: DataFrame | None = None,
) -> DataFrame:
    """pages ⋈ polygons with exact PIP semantics.

    Returns ``cell`` + pages columns + ``code`` (one output row per
    (page, polygon) containment; a page inside two polygons appears
    twice).

    ``polygons`` is a driver list (broadcast metadata — countries,
    admin regions) or a **DataFrame** (`code` + `wkt` and/or
    xmin/ymin/xmax/ymax — the million-polygon parcels case, VERDICT
    r5 task 3): the DataFrame path generates the covering IN-PLAN
    (``operators.polygons.covering_cells_df``, two explode(sequence)
    nodes, zero driver materialization) and refines against carried
    geometry columns; both paths produce identical rows
    (tests/test_spatial_join_spark.py parity).  When
    ``broadcast_covering`` is None the polygon table is counted (one
    tiny aggregate job — a scalar, not a materialization) and
    broadcast under ``polygons.BROADCAST_MAX_POLYGONS``.

    Join-strategy selection (SURVEY.md §4 "broadcast vs shuffle"):
    the covering broadcasts while it fits the broadcast threshold
    (the normal case — coverings are polygon-side metadata); for very
    large polygon sets pass ``broadcast_covering=False`` to shuffle
    BOTH sides on ``cell`` instead — with the pages table stored
    partitioned by cell prefix (SCALE.md) that shuffle is co-located.
    ``covering`` lets callers reuse a precomputed/persisted covering
    table (the index-reuse path at scale).
    """
    scheme = QuadScheme(res)
    if isinstance(polygons, DataFrame):
        from earth_data_kit_spark.operators import polygons as P

        norm = P.normalize_polygons_df(polygons)
        if broadcast_covering is None:
            broadcast_covering = norm.count() < P.BROADCAST_MAX_POLYGONS
        return _pip(
            scheme, pages, P.covering_cells_df(norm, res),
            P.refine_predicate_cols(lon_col, lat_col), lon_col, lat_col,
            broadcast=broadcast_covering,
            carried=("wkt", "xmin", "ymin", "xmax", "ymax"),
        )
    if broadcast_covering is None:
        broadcast_covering = len(polygons) < 10_000
    if covering is None:
        covering = scheme.covering(pages.sparkSession, polygons)
    return _pip(
        scheme, pages, covering, refine_predicate(polygons, lon_col, lat_col),
        lon_col, lat_col, broadcast=broadcast_covering,
    )


def _pip(
    scheme: CellScheme,
    pages: DataFrame,
    covering: DataFrame,
    refine: "F.Column",
    lon_col: str,
    lat_col: str,
    stored: str | None = None,
    broadcast: bool = True,
    carried: tuple[str, ...] = (),
) -> DataFrame:
    """The pip body every cell scheme shares: index the pages
    (``scheme.index``), equi-join the ``(code, key)`` covering on the
    scheme key — broadcast, so the pages side never shuffles — then
    the exact refine.  Output ``cell, <pages columns>, code`` (plus any
    non-geometry polygon columns; ``carried`` geometry is dropped)."""
    cand = scheme.index(pages, lon_col, lat_col, stored).join(
        F.broadcast(covering) if broadcast else covering, scheme.key
    )
    rest = [c for c in cand.columns if c not in (scheme.key, "cell", *carried)]
    return cand.where(refine).select(scheme.output_cell(), *rest)


def refine_predicate(polygons: list[Polygon], lon_col: str, lat_col: str) -> "F.Column":
    """Exact PIP refine as a single predicate: rectangles become
    codegen'd comparisons (antimeridian-aware), true polygons go
    through the vectorized ray-cast UDF.  Shared by every covering
    scheme (quadgrid `pip_join`, S2 `pip_join_s2`, H3 `pip_join_h3`) —
    the covering only has to be a superset, the refine is what defines
    the semantics."""
    rect = {p.code: p.bbox for p in polygons if p.bbox is not None}
    poly = {p.code: p.wkt for p in polygons if p.wkt is not None}

    keep = F.lit(False)
    if rect:
        bx = F.create_map(
            *[x for c, b in rect.items() for x in (F.lit(c), F.array(*[F.lit(v) for v in b]))]
        )
        bb = bx[F.col("code")]
        # antimeridian-crossing boxes have xmin > xmax (the covering
        # side already wraps, cells.covering_bbox): longitude test
        # becomes a disjunction there instead of silently-empty AND
        lon_in = F.when(
            bb[0] <= bb[2],
            (F.col(lon_col) >= bb[0]) & (F.col(lon_col) <= bb[2]),
        ).otherwise((F.col(lon_col) >= bb[0]) | (F.col(lon_col) <= bb[2]))
        keep = keep | (
            bb.isNotNull()
            & lon_in
            & (F.col(lat_col) >= bb[1]) & (F.col(lat_col) <= bb[3])
        )
    if poly:
        refine = pip_refine_udf(poly)
        is_poly = F.col("code").isin(*poly.keys())
        keep = keep | (is_poly & refine(F.col(lon_col), F.col(lat_col), F.col("code")))
    return keep


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
