"""kNN (k-ring expansion + re-rank) vs brute-force oracle."""

import pytest

from earth_data_kit_spark.operators import knn
from earth_data_kit_spark.sources.pages import pages_meta_df

SF = "/root/testdata/sf0.001"

QUERIES = [
    (1, 41.33, 19.82),   # Tirana — dense cell
    (2, 51.0, 10.5),     # Germany centroid
    (3, -33.9, 151.2),   # Sydney — sparse
]


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_meta_df(spark, SF).cache()
    yield df
    df.unpersist()


def test_knn_matches_bruteforce(spark, pages):
    got = knn.knn_join(
        pages, QUERIES, k=5, res=6, ring=2, auto_grow=True, max_ring=128
    ).collect()
    exp = knn.knn_brute_force(pages, QUERIES, k=5).collect()
    key = lambda r: (r.query_id, r.rank, r.page_id)
    assert sorted(map(key, got)) == sorted(map(key, exp))
    # distances agree
    gd = {(r.query_id, r.rank): r.dist_m for r in got}
    for r in exp:
        assert abs(gd[(r.query_id, r.rank)] - r.dist_m) < 1e-6


def test_knn_k_rows_per_query(spark, pages):
    out = knn.knn_join(pages, QUERIES, k=3, res=6, ring=4, auto_grow=True, max_ring=128)
    counts = {r.query_id: r["count"] for r in out.groupBy("query_id").count().collect()}
    assert counts == {1: 3, 2: 3, 3: 3}


def test_ring_for_radius():
    assert knn.ring_for_radius(100_000, 7, at_lat=0.0) >= 1
    # higher latitude → wider ring for the same radius
    assert knn.ring_for_radius(500_000, 7, at_lat=70.0) >= knn.ring_for_radius(
        500_000, 7, at_lat=0.0
    )


def test_radius_join_exact_near_pole(spark):
    """ring_for_radius must size by the worst-case latitude the radius
    reaches — at 86-89° the longitudinal cell width collapses and the
    old center-latitude sizing (cos floored at 0.2) missed in-radius
    points.  Oracle: brute-force haversine."""
    import math

    import numpy as np

    rows = [
        (i, 86.0 + (i % 40) * 0.1, -180.0 + i * 4.7 % 360.0) for i in range(300)
    ]
    pts = spark.createDataFrame(rows, "page_id bigint, lat double, lon double")
    queries = [(1, 88.5, 10.0), (2, 87.0, -170.0)]
    radius = 250_000.0
    got = {
        (r.query_id, r.page_id)
        for r in knn.radius_join(pts, queries, radius_m=radius, res=6).collect()
    }

    def hav(lat1, lon1, lat2, lon2):
        a = (
            math.sin(math.radians(lat2 - lat1) / 2) ** 2
            + math.cos(math.radians(lat1))
            * math.cos(math.radians(lat2))
            * math.sin(math.radians(lon2 - lon1) / 2) ** 2
        )
        return 2 * 6371000.0 * math.asin(math.sqrt(min(1.0, a)))

    exp = {
        (qid, pid)
        for qid, qlat, qlon in queries
        for pid, plat, plon in rows
        if hav(qlat, qlon, plat, plon) <= radius
    }
    assert exp, "fixture must have in-radius points"
    assert got == exp


def test_topk_non_bigint_id(spark):
    """id_col is a public parameter — string ids must survive the
    map-side top-k prune (the Arrow schema splices the real dtype)."""
    rows = [(f"p{i:03d}", -10.0 + i * 0.1, 5.0 + i * 0.05) for i in range(100)]
    pts = spark.createDataFrame(rows, "name string, lat double, lon double")
    out = knn.knn_brute_force(pts, [(1, -9.0, 5.5)], k=3, id_col="name").collect()
    assert len(out) == 3
    assert all(isinstance(r.name, str) for r in out)


def _keys(rows):
    return sorted((r.query_id, r.rank, r.page_id) for r in rows)


def test_knn_df_queries_large_batch_parity(spark):
    """Table-to-table kNN (VERDICT r4 task 1): 100k queries flow
    through the DataFrame API — rings generated IN the plan (no
    driver-side query loop), candidate join shuffled on cell
    (broadcast off: the at-scale path for query tables too big to
    broadcast) — and match brute force exactly."""
    from pyspark.sql import functions as F

    pts = (
        spark.range(500)
        .select(
            F.col("id").alias("page_id"),
            (F.pmod(F.col("id") * 37.0, F.lit(360.0)) - 180.0).alias("lon"),
            (F.pmod(F.col("id") * 53.0, F.lit(170.0)) - 85.0).alias("lat"),
        )
        .cache()
    )
    qdf = (
        spark.range(100_000)
        .select(
            F.col("id").alias("query_id"),
            (F.pmod(F.col("id") * 41.0, F.lit(160.0)) - 80.0).alias("qlat"),
            (F.pmod(F.col("id") * 29.0, F.lit(356.0)) - 178.0).alias("qlon"),
        )
        .cache()
    )
    got = knn.knn_join(
        pts, qdf, k=3, res=4, ring=2, auto_grow=True, max_ring=32,
        broadcast_queries=False,
    ).collect()
    exp = knn.knn_brute_force(pts, qdf, k=3).collect()
    assert _keys(got) == _keys(exp)
    assert len(got) == 3 * 100_000
    pts.unpersist()
    qdf.unpersist()


def test_knn_df_plan_no_driver_ring_materialization(spark):
    """The ring side must be generated by plan operators (explode over
    sequences), not a driver-built local table: with both inputs
    derived from range(), the physical plan contains NO local/RDD
    scan and NO Python eval — and auto-grow's decision runs as an
    aggregate, not a per-query collect (asserted by construction:
    the plan below is the FINAL candidate join, built identically)."""
    from pyspark.sql import functions as F

    pts = spark.range(100).select(
        F.col("id").alias("page_id"),
        (F.col("id") * 3.1).alias("lon"),
        (F.col("id") * 0.7 - 30.0).alias("lat"),
    )
    qdf = spark.range(50).select(
        F.col("id").alias("query_id"),
        (F.col("id") * 1.3 - 30.0).alias("qlat"),
        (F.col("id") * 2.9 - 70.0).alias("qlon"),
    )
    from tests.test_plans import plan_of

    for bq in (True, False):
        df = knn.knn_join(pts, qdf, k=3, res=5, ring=2, broadcast_queries=bq)
        plan = plan_of(df)
        assert "LocalTableScan" not in plan and "ExistingRDD" not in plan
        assert "Generate explode" in plan  # in-plan ring expansion
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # radius_join: per-query ring sizing is likewise in-plan
    rdf = knn.radius_join(pts, qdf, radius_m=200_000.0, res=5)
    plan = plan_of(rdf)
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan
    assert "Generate explode" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_radius_join_df_queries_parity_with_list(spark, pages):
    qs = [(1, 41.33, 19.82), (2, 51.0, 10.5), (3, -33.9, 151.2)]
    qdf = knn.queries_df(spark, qs)
    a = sorted(
        (r.query_id, r.page_id) for r in knn.radius_join(pages, qs, 250_000.0, res=6).collect()
    )
    b = sorted(
        (r.query_id, r.page_id) for r in knn.radius_join(pages, qdf, 250_000.0, res=6).collect()
    )
    assert a == b and len(a) > 0


@pytest.mark.parametrize(
    "join, kwargs",
    [
        ("knn_join", {"res": 6, "ring": 1}),
        ("knn_join_s2", {"level": 7, "ring": 2}),
        ("knn_join_h3", {"res": 6, "radius_m": 1000.0}),
    ],
)
def test_auto_grow_releases_points_cache(spark, pages, join, kwargs):
    """auto_grow persists the indexed points for its probe passes only:
    once the result is collected, the call has left no persistent RDD
    behind (repeated calls in one session must not pile up executor
    cache).  Compared against the ids present before the call, so the
    local checkpoints other modules leave do not count."""
    from conftest import _persistent_rdd_ids

    from earth_data_kit_spark.operators import spatial_join_h3, spatial_join_s2

    fn = {
        "knn_join": knn.knn_join,
        "knn_join_s2": spatial_join_s2.knn_join_s2,
        "knn_join_h3": spatial_join_h3.knn_join_h3,
    }[join]
    pages.count()  # the module fixture's buffers load before the call, not in it
    before = _persistent_rdd_ids(spark)
    out = fn(pages, QUERIES, 3, auto_grow=True, **kwargs).collect()
    assert len(out) == 3 * len(QUERIES)
    assert not _persistent_rdd_ids(spark) - before
