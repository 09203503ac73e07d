"""Real H3-class grid (grid/h3.py) + its kNN/radius joins.

Pins the geometric contracts the engine leans on (module docstring of
grid/h3.py): deterministic total point→cell function, interior-cell
center roundtrip, center-containment parenting, ~aperture-7 child
counts, and — load-bearing — the ``cover_cap`` SUPERSET property that
makes kNN/radius exact, exercised at the adversarial spots (icosa
vertices, poles, face centers, cross-face caps)."""

import math

import numpy as np
import pytest

from earth_data_kit_spark.grid import h3
from earth_data_kit_spark.grid.geom import EARTH_RADIUS_M


def _rand_sphere(rng, n, center=None, spread_deg=None):
    if center is None:
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        lon = rng.uniform(-180.0, 180.0, n)
    else:
        lat = np.clip(center[0] + rng.normal(0, spread_deg, n), -89.9, 89.9)
        lon = center[1] + rng.normal(0, spread_deg, n)
    return lat, lon


def _hav_m(lat1, lon1, lat2, lon2):
    p = math.pi / 180.0
    a = (
        np.sin((lat2 - lat1) * p / 2) ** 2
        + np.cos(lat1 * p) * np.cos(lat2 * p) * np.sin((lon2 - lon1) * p / 2) ** 2
    )
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0, 1)))


# queries at the grid's worst spots: icosa vertices (pole + ring
# latitude), a face center, an edge midpoint, plus generic points
ADVERSARIAL_QUERIES = [
    (90.0, 0.0),
    (-90.0, 17.0),
    (math.degrees(math.atan(0.5)), 0.0),  # icosa vertex on the upper ring
    (48.8, 2.3),
    (0.0, 36.0),
    (-26.5, 11.0),
]


class TestGridInvariants:
    def test_total_deterministic_function(self):
        rng = np.random.default_rng(1)
        lat, lon = _rand_sphere(rng, 5000)
        for res in (0, 4, 9, 15):
            a = h3.latlng_to_cell(lat, lon, res)
            b = h3.latlng_to_cell(lat, lon, res)
            assert (a == b).all()
            r, f, _, _ = h3.unpack(a)
            assert (r == res).all()
            assert ((f >= 0) & (f < 20)).all()

    def test_resolution_refines(self):
        """Finer res ⇒ more distinct cells; aperture ~7 growth."""
        rng = np.random.default_rng(2)
        lat, lon = _rand_sphere(rng, 40000)
        prev = None
        for res in (0, 1, 2, 3):
            n = len(np.unique(h3.latlng_to_cell(lat, lon, res)))
            if prev is not None and prev < 3000:  # before sample saturates
                assert n > prev * 3  # 7× in theory; sampling dilutes
            prev = n

    def test_interior_center_roundtrip(self):
        """cells whose center stays on their own face re-index to
        themselves; the face-edge band (center's home face differs —
        the documented per-face-lattice overlap) is the only
        exception and shrinks with res."""
        rng = np.random.default_rng(3)
        lat, lon = _rand_sphere(rng, 20000)
        for res, max_edge_frac in ((2, 0.12), (5, 0.03), (8, 0.005)):
            cid = np.unique(h3.latlng_to_cell(lat, lon, res))
            clat, clon = h3.cell_center(cid)
            back = h3.latlng_to_cell(clat, clon, res)
            _, own_face, _, _ = h3.unpack(cid)
            center_face = h3._home_face(h3._to_xyz(clat, clon))
            interior = center_face == own_face
            # interior cells MUST roundtrip exactly
            assert (back[interior] == cid[interior]).all()
            # and the edge band must stay a small, shrinking fraction
            assert (~interior).mean() <= max_edge_frac

    def test_parent_center_containment(self):
        rng = np.random.default_rng(4)
        lat, lon = _rand_sphere(rng, 3000)
        for res in (3, 7):
            cid = h3.latlng_to_cell(lat, lon, res)
            par = h3.parent(cid)
            pres, _, _, _ = h3.unpack(par)
            assert (pres == res - 1).all()
            clat, clon = h3.cell_center(cid)
            assert (h3.latlng_to_cell(clat, clon, res - 1) == par).all()

    def test_children_average_seven(self):
        """Center-containment parenting: interior parents have
        exactly 7 children (aperture 7); the global mean stays ≈7
        (area ratio) with edge cells the only outliers."""
        rng = np.random.default_rng(5)
        lat, lon = _rand_sphere(rng, 800)
        cells = np.unique(h3.latlng_to_cell(lat, lon, 4))[:150]
        counts = [len(h3.children(int(c))) for c in cells]
        assert 6.5 <= float(np.mean(counts)) <= 7.5
        assert (np.array(counts) == 7).mean() >= 0.9

    def test_pack_unpack_inverse(self):
        rng = np.random.default_rng(6)
        res = rng.integers(0, 16, 1000)
        face = rng.integers(0, 20, 1000)
        i = rng.integers(-(1 << 25), 1 << 25, 1000)
        j = rng.integers(-(1 << 25), 1 << 25, 1000)
        r2, f2, i2, j2 = h3.unpack(h3.pack(res, face, i, j))
        assert (r2 == res).all() and (f2 == face).all()
        assert (i2 == i).all() and (j2 == j).all()
        # ids are non-negative (Spark BIGINT-safe, no sign games)
        assert (h3.pack(res, face, i, j) >= 0).all()


class TestCoverCap:
    @pytest.mark.parametrize("qlat,qlon", ADVERSARIAL_QUERIES)
    def test_superset_property(self, qlat, qlon):
        """THE exactness contract: cover_cap(q, r, res) contains the
        cell of every point within r of q — including caps that cross
        icosahedron faces/vertices."""
        rng = np.random.default_rng(int(qlat * 7 + qlon) & 0xFFFF)
        for res in (3, 5):
            for radius in (80e3, 900e3):
                plat, plon = _rand_sphere(
                    rng, 3000, (qlat, qlon), radius / 111000.0 * 1.5
                )
                d = _hav_m(np.full_like(plat, qlat), np.full_like(plon, qlon), plat, plon)
                inside = d <= radius
                if not inside.any():
                    continue
                truth = np.unique(h3.latlng_to_cell(plat[inside], plon[inside], res))
                cover = h3.cover_cap(qlat, qlon, radius, res)
                assert len(np.setdiff1d(truth, cover)) == 0

    def test_cover_size_bounded(self):
        """No candidate blowup: cover stays within a small constant
        of the ideal cap-area/cell-area cell count."""
        for res in (4, 6):
            cover = h3.cover_cap(48.8, 2.3, 100e3, res)
            pitch_m = h3.pitch(res) * EARTH_RADIUS_M
            ideal = math.pi * 100e3**2 / (pitch_m**2 * math.sqrt(3) / 2)
            # the +2 safety rings add O(n) cells that dominate when
            # radius is only a few pitches — hence the additive term
            assert len(cover) <= 6 * ideal + 400

    def test_whole_earth_cover_at_coarse_res(self):
        cover = h3.cover_cap(10.0, 10.0, 21_000_000.0, 2)
        rng = np.random.default_rng(8)
        lat, lon = _rand_sphere(rng, 5000)
        cells = np.unique(h3.latlng_to_cell(lat, lon, 2))
        assert len(np.setdiff1d(cells, cover)) == 0

    def test_fine_res_huge_radius_raises(self):
        with pytest.raises(ValueError, match="coarser res"):
            h3.cover_cap(0.0, 0.0, 5_000_000.0, 14)

    def test_k_ring_contains_immediate_neighbors(self):
        """k_ring(c, 1) includes every cell that shares points within
        one pitch of the center — cross-face correct (vertex cell)."""
        for qlat, qlon in ADVERSARIAL_QUERIES:
            cid = int(h3.latlng_to_cell(np.array([qlat]), np.array([qlon]), 5)[0])
            ring = h3.k_ring(cid, 1)
            assert cid in ring
            # sample points just around the center: all their cells
            # must be inside ring(1)
            rng = np.random.default_rng(9)
            step = h3.min_cell_pitch_m(5) / EARTH_RADIUS_M * 180 / math.pi
            plat = np.clip(qlat + rng.uniform(-step, step, 400), -90, 90)
            plon = qlon + rng.uniform(-step, step, 400)
            cells = np.unique(h3.latlng_to_cell(plat, plon, 5))
            assert len(np.setdiff1d(cells, ring)) == 0


@pytest.fixture(scope="module")
def pages_df(spark):
    from earth_data_kit_spark.sources.pages import pages_meta_df

    return pages_meta_df(spark, "/root/testdata/sf0.001")


class TestKnnJoinH3:
    def test_knn_parity_with_bruteforce(self, spark, pages_df):
        """H3-cover kNN returns exactly the brute-force top-k when
        the cover radius dominates the true k-th distance."""
        from earth_data_kit_spark.operators.knn import knn_brute_force
        from earth_data_kit_spark.operators.spatial_join_h3 import knn_join_h3

        queries = [(1, 41.33, 19.82), (2, 51.0, 10.5), (3, 20.6, 78.9)]
        k = 5
        exact = knn_brute_force(pages_df, queries, k).collect()
        dk_max = max(r.dist_m for r in exact)
        got = knn_join_h3(pages_df, queries, k, radius_m=dk_max * 1.05).collect()
        key = lambda r: (r.query_id, r.rank)
        assert {key(r): (r.page_id, round(r.dist_m, 6)) for r in got} == {
            key(r): (r.page_id, round(r.dist_m, 6)) for r in exact
        }

    def test_knn_auto_grow_from_tiny_radius(self, spark, pages_df):
        """auto_grow doubles the cover radius from a deliberately
        starved start (1 km) until exact — including a sparse-ocean
        query whose neighbors are thousands of km away."""
        from earth_data_kit_spark.operators.knn import knn_brute_force
        from earth_data_kit_spark.operators.spatial_join_h3 import knn_join_h3

        queries = [(1, 41.33, 19.82), (7, -48.0, -120.0)]
        k = 3
        exact = {
            (r.query_id, r.rank): r.page_id
            for r in knn_brute_force(pages_df, queries, k).collect()
        }
        grown = {
            (r.query_id, r.rank): r.page_id
            for r in knn_join_h3(
                pages_df, queries, k, res=6, radius_m=1000.0, auto_grow=True
            ).collect()
        }
        assert grown == exact

    def test_knn_table_queries_shuffle_path(self, spark, pages_df):
        """TABLE-to-table: query side derived from the pages table,
        broadcast disabled (the at-scale shape) — parity with the
        broadcast path."""
        import pyspark.sql.functions as F

        from earth_data_kit_spark.operators.spatial_join_h3 import knn_join_h3

        q = pages_df.where(F.col("page_id") % 37 == 5).select(
            F.col("page_id").alias("query_id"),
            F.col("lat").alias("qlat"),
            F.col("lon").alias("qlon"),
        )
        a = knn_join_h3(
            pages_df, q, 3, res=5, radius_m=500e3, auto_grow=True,
            broadcast_queries=True,
        )
        b = knn_join_h3(
            pages_df, q, 3, res=5, radius_m=500e3, auto_grow=True,
            broadcast_queries=False,
        )
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        assert a.count() > 0

    def test_radius_join_parity_with_quadgrid(self, spark, pages_df):
        from earth_data_kit_spark.operators.knn import radius_join
        from earth_data_kit_spark.operators.spatial_join_h3 import radius_join_h3

        queries = [(1, 41.33, 19.82), (2, 51.0, 10.5)]
        a = radius_join(pages_df, queries, radius_m=250_000.0, res=6).select(
            "query_id", "page_id"
        )
        b = radius_join_h3(pages_df, queries, radius_m=250_000.0).select(
            "query_id", "page_id"
        )
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_pip_join_parity_with_quadgrid_and_s2(self, spark, pages_df):
        """The flagship join on its third index: H3-covered pip_join
        returns exactly the quadgrid- and S2-covered joins' rows
        (coverings differ entirely; all three refine exactly)."""
        from earth_data_kit_spark.operators.spatial_join import Polygon, pip_join
        from earth_data_kit_spark.operators.spatial_join_h3 import pip_join_h3
        from earth_data_kit_spark.operators.spatial_join_s2 import pip_join_s2

        polys = [
            Polygon(code="US-E", name="us east", bbox=(-85.0, 30.0, -70.0, 45.0)),
            Polygon(
                code="ALPS",
                name="alps-ish",
                wkt="POLYGON ((5 44, 12 44, 14 47, 9 48, 5 46, 5 44))",
            ),
            Polygon(code="FJ", name="fiji wrap", bbox=(177.0, -20.0, -178.0, -15.0)),
        ]
        cols = ["url", "code"]
        a = pip_join(pages_df, polys, res=6)
        b = pip_join_s2(pages_df, polys, level=8)
        c = pip_join_h3(pages_df, polys, res=4)
        # one output schema for every scheme: cell, <pages columns>, code
        assert a.columns == b.columns == c.columns
        a, b, c = (d.select(*cols) for d in (a, b, c))
        assert c.exceptAll(a).count() == 0 and a.exceptAll(c).count() == 0
        assert c.exceptAll(b).count() == 0 and b.exceptAll(c).count() == 0
        assert c.count() > 0
        # plan shape: broadcast covering, never a nested loop
        plan = c._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_stored_cell_column_zero_python_points_side(self, spark, pages_df, tmp_path):
        """At-scale layout: H3 cell ids stored at ingest; the query-
        time plan over the stored table has Python only on the QUERY
        side (cover UDF), never on the points side."""
        import pyspark.sql.functions as F

        from earth_data_kit_spark.operators.spatial_join_h3 import (
            h3_cell_udf,
            knn_join_h3,
        )

        path = str(tmp_path / "pages_h3")
        pages_df.withColumn(
            "h3_cell", h3_cell_udf(6)(F.col("lon"), F.col("lat"))
        ).write.parquet(path)
        stored = spark.read.parquet(path)
        out = knn_join_h3(
            stored, [(1, 41.33, 19.82)], 3, res=6, radius_m=400e3,
            cell_col="h3_cell",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the single ArrowEvalPython node is the query-side cover
        assert plan.count("ArrowEvalPython") <= 1
        assert out.count() == 3


class TestAdaptiveCovering:
    """pip_join_h3's per-polygon adaptive covering resolution — the
    fix for the r6 finding that a continent covered at a fixed fine
    res enumerates millions of cells (US bbox at res 4: ~10⁷ driver-
    side rows, a 35× slower join than quadgrid)."""

    def test_continent_covers_coarse_and_bounded(self):
        from earth_data_kit_spark.operators.spatial_join import Polygon
        from earth_data_kit_spark.operators.spatial_join_h3 import (
            _covering_for_polygon,
        )

        usa = Polygon(code="US", name="usa", bbox=(-124.7, 24.5, -66.9, 49.4))
        alb = Polygon(code="AL", name="albania", bbox=(19.3, 39.6, 21.0, 42.7))
        r_us, cells_us = _covering_for_polygon(usa, 4, max_cells=2048)
        r_al, cells_al = _covering_for_polygon(alb, 4, max_cells=2048)
        assert r_us < 4  # continent drops resolution
        assert r_al == 4  # small polygon keeps the requested res
        assert len(cells_us) <= 2048
        assert len(cells_al) <= 2048
        # superset property at the CHOSEN res: random bbox points'
        # cells are all in the covering
        rng = np.random.default_rng(7)
        lats = rng.uniform(24.5, 49.4, 50_000)
        lons = rng.uniform(-124.7, -66.9, 50_000)
        pc = h3.latlng_to_cell(lats, lons, r_us)
        assert np.setdiff1d(pc, cells_us).size == 0

    def test_pip_join_h3_adaptive_parity_with_quadgrid(self, spark, pages_df):
        """Mixed continent + city polygons: the multi-res H3 join
        (one scan, explode over the used resolutions, broadcast
        equi-join on (res, cell)) returns exactly the quadgrid rows."""
        from earth_data_kit_spark.operators.spatial_join import Polygon, pip_join
        from earth_data_kit_spark.operators.spatial_join_h3 import pip_join_h3

        polys = [
            Polygon(code="US", name="usa", bbox=(-124.7, 24.5, -66.9, 49.4)),
            Polygon(code="AL", name="albania", bbox=(19.3, 39.6, 21.0, 42.7)),
            Polygon(code="FJ", name="fiji wrap", bbox=(177.0, -20.0, -178.0, -15.0)),
        ]
        cols = ["url", "code"]
        a = pip_join(pages_df, polys, res=6).select(*cols)
        c = pip_join_h3(pages_df, polys, res=4).select(*cols)
        assert c.exceptAll(a).count() == 0 and a.exceptAll(c).count() == 0
        assert c.count() > 0
        plan = c._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_pip_join_h3_polar_bbox_parity(self, spark):
        """ADVICE r6 (high): the covering clip's longitude margin was
        floored at cos⁻¹ = 20 (max(0.05, cos(lat))), which above ~87°
        dropped covering cells whose hexes still contain in-bbox
        points — candidates the exact refine can never recover.  A
        dense synthetic point grid over (0, 88, 40, 89.5) must join
        identically through H3 and quadgrid."""
        import pyspark.sql.functions as F

        from earth_data_kit_spark.operators.spatial_join import Polygon, pip_join
        from earth_data_kit_spark.operators.spatial_join_h3 import pip_join_h3

        rng = np.random.default_rng(31)
        n = 4000
        pts = spark.createDataFrame(
            list(
                zip(
                    range(n),
                    rng.uniform(-30.0, 70.0, n).tolist(),   # lon straddles the box
                    rng.uniform(85.0, 90.0, n).tolist(),    # polar band
                )
            ),
            "page_id bigint, lon double, lat double",
        ).withColumn("url", F.concat(F.lit("u"), F.col("page_id")))
        polys = [Polygon(code="PP", name="polar", bbox=(0.0, 88.0, 40.0, 89.5))]
        a = pip_join(pts, polys, res=6).select("page_id", "code")
        c = pip_join_h3(pts, polys, res=4).select("page_id", "code")
        assert c.exceptAll(a).count() == 0 and a.exceptAll(c).count() == 0
        assert c.count() > 0

    def test_stored_multires_layout_zero_python_pages_side(
        self, spark, pages_df, tmp_path
    ):
        """The multi-res ingest layout (h3_cells_udf stamps
        h3_cell_r0..r4 once at write time): the query-time pip join
        over the stored table plans ZERO Python nodes — covering is
        driver-built broadcast rows, page cells come from stored
        columns."""
        import pyspark.sql.functions as F

        from earth_data_kit_spark.operators.spatial_join import Polygon, pip_join
        from earth_data_kit_spark.operators.spatial_join_h3 import (
            h3_cells_udf,
            pip_join_h3,
        )

        path = str(tmp_path / "pages_h3mr")
        df = pages_df.withColumn(
            "_a", h3_cells_udf([0, 1, 2, 3, 4])(F.col("lon"), F.col("lat"))
        )
        for r in range(5):
            df = df.withColumn(f"h3_cell_r{r}", F.col("_a")[r])
        df.drop("_a").write.parquet(path)
        stored = spark.read.parquet(path)

        polys = [
            Polygon(code="US", name="usa", bbox=(-124.7, 24.5, -66.9, 49.4)),
            Polygon(code="AL", name="albania", bbox=(19.3, 39.6, 21.0, 42.7)),
        ]
        out = pip_join_h3(stored, polys, res=4, cell_col="h3_cell_r{res}")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        want = pip_join(pages_df, polys, res=6).select("url", "code")
        got = out.select("url", "code")
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
