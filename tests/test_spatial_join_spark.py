"""Cell-prefiltered PIP join vs the single-node oracle (same pure
functions, numpy) — and plan-shape assertions (broadcast chosen, no
shuffle of the pages side)."""

import numpy as np
import pytest

from earth_data_kit_spark.grid import cells, geom
from earth_data_kit_spark.operators import spatial_join as sj
from earth_data_kit_spark.sources.pages import pages_meta_df

SF = "/root/testdata/sf0.001"

ALBANIA = ("AL", "Albania", (19.3044861183, 39.624997667, 21.0200403175, 42.6882473822))
INDIA_BBOX = ("IN", "India", (68.1766451354, 7.96553477623, 97.4025614766, 35.4940095078))
CONCAVE = (
    "CC",
    "Concave",
    "POLYGON ((0 0, 30 0, 30 10, 10 10, 10 30, 30 30, 30 40, 0 40, 0 0))",
)
HOLED = (
    "HH",
    "Holed",
    "POLYGON ((-60 -20, -20 -20, -20 20, -60 20, -60 -20), (-45 -5, -35 -5, -35 5, -45 5, -45 -5))",
)


@pytest.fixture(scope="module")
def polys():
    return [
        sj.Polygon(code=ALBANIA[0], name=ALBANIA[1], bbox=ALBANIA[2]),
        sj.Polygon(code=INDIA_BBOX[0], name=INDIA_BBOX[1], bbox=INDIA_BBOX[2]),
        sj.Polygon(code=CONCAVE[0], name=CONCAVE[1], wkt=CONCAVE[2]),
        sj.Polygon(code=HOLED[0], name=HOLED[1], wkt=HOLED[2]),
    ]


def oracle_pip(pdf, polys):
    lons = pdf["lon"].values
    lats = pdf["lat"].values
    out = set()
    for p in polys:
        if p.bbox is not None:
            xmin, ymin, xmax, ymax = p.bbox
            m = (lons >= xmin) & (lons <= xmax) & (lats >= ymin) & (lats <= ymax)
        else:
            shell, holes = geom.parse_wkt_polygon(p.wkt)
            m = geom.point_in_polygon(lons, lats, shell, holes)
        for pid in pdf["page_id"].values[m]:
            out.add((int(pid), p.code))
    return out


def test_pip_join_matches_oracle(spark, polys):
    pages = pages_meta_df(spark, SF)
    got = {
        (r.page_id, r.code)
        for r in sj.pip_join(pages, polys, res=7).select("page_id", "code").collect()
    }
    expected = oracle_pip(pages.select("page_id", "lon", "lat").toPandas(), polys)
    assert got == expected
    assert len(expected) > 0  # dense cell guarantees Albania hits


def test_pip_join_dense_skew_present(spark, polys):
    # the synthetic skew knob: ~20% of pages in the dense Albania cell
    pages = pages_meta_df(spark, SF)
    n = pages.count()
    al = sj.pip_join(pages, polys[:1], res=7).count()
    assert al >= 0.15 * n


def test_pip_join_plan_is_broadcast(spark, polys):
    pages = pages_meta_df(spark, SF)
    plan = sj.pip_join(pages, polys, res=7)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_covering_superset(spark, polys):
    # every oracle hit's cell must appear in the in-plan covering
    # pip_join joins on (covering_cells_df of the polygon table)
    from earth_data_kit_spark.operators import polygons as P

    pages = pages_meta_df(spark, SF).select("page_id", "lon", "lat").toPandas()
    for p in polys:
        table = P.polygon_table(spark, [p])
        cov = {r.cell for r in P.covering_cells_df(table, 7).select("cell").collect()}
        hits = oracle_pip(pages, [p])
        ids = {pid for pid, _ in hits}
        sub = pages[pages["page_id"].isin(ids)]
        pc = cells.cell_id(sub["lon"].values, sub["lat"].values, 7)
        assert set(np.unique(pc)).issubset(cov)


def test_pip_join_antimeridian_bbox(spark):
    """xmin > xmax boxes wrap: the refine must be a longitude
    DISJUNCTION (the AND form silently matched nothing — regression
    guard for the wrap-aware fix)."""
    from pyspark.sql import functions as F  # noqa: F401

    pts = spark.createDataFrame(
        [
            (1, 5.0, 175.0),    # west of the antimeridian, inside
            (2, 5.0, -175.0),   # east of it, inside
            (3, 5.0, 0.0),      # lon outside
            (4, 50.0, 175.0),   # lat outside
        ],
        "page_id bigint, lat double, lon double",
    )
    poly = sj.Polygon(code="AM", name="wrap", bbox=(150.0, -40.0, -140.0, 10.0))
    got = {r.page_id for r in sj.pip_join(pts, [poly], res=5).collect()}
    assert got == {1, 2}


def test_salted_hot_keys(spark):
    pages = pages_meta_df(spark, SF)
    from earth_data_kit_spark.functions.columns import cell_id_col
    from pyspark.sql import functions as F

    df = pages.withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), 7))
    salted, hot = sj.salted_hot_keys(df, "cell", hot_threshold=50, salt_buckets=8)
    hot_rows = hot.collect()
    assert len(hot_rows) >= 1  # the dense cell must be detected
    # hot keys fan out into multiple salted keys; cold keys don't
    fan = (
        salted.groupBy("cell")
        .agg(F.countDistinct("salted_key").alias("n"))
        .join(hot, "cell", "left_semi")
        .collect()
    )
    assert all(r.n > 1 for r in fan)


def test_salted_key_deterministic_and_merge_correct(spark):
    """Retry safety: the salt derives from row content only, so two
    independent evaluations of the plan assign every row the same
    salted_key (monotonically_increasing_id would not) — and the
    two-level aggregate over salted keys merges back to the truth."""
    from earth_data_kit_spark.functions.columns import cell_id_col
    from pyspark.sql import functions as F

    pages = pages_meta_df(spark, SF)
    df = pages.withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), 7))
    salted, _ = sj.salted_hot_keys(df, "cell", hot_threshold=50, salt_buckets=8)
    m1 = {r.page_id: r.salted_key for r in salted.select("page_id", "salted_key").collect()}
    m2 = {r.page_id: r.salted_key for r in salted.select("page_id", "salted_key").collect()}
    assert m1 == m2
    # partial (by salted_key) + final (by cell) == direct groupBy(cell)
    partial = salted.groupBy("cell", "salted_key").agg(F.count("*").alias("n"))
    merged = {
        r.cell: r.n
        for r in partial.groupBy("cell").agg(F.sum("n").alias("n")).collect()
    }
    direct = {r.cell: r["count"] for r in df.groupBy("cell").count().collect()}
    assert merged == direct


def test_salted_hot_keys_string_key(spark):
    """String keys must salt too (the old key-arithmetic salt coerced
    strings to null and silently degenerated to a no-op)."""
    from earth_data_kit_spark.functions.columns import cell_id_col
    from pyspark.sql import functions as F

    pages = pages_meta_df(spark, SF)
    df = pages.withColumn(
        "cell_s", cell_id_col(F.col("lon"), F.col("lat"), 7).cast("string")
    )
    salted, hot = sj.salted_hot_keys(df, "cell_s", hot_threshold=50, salt_buckets=8)
    assert hot.count() >= 1
    fan = (
        salted.groupBy("cell_s")
        .agg(F.countDistinct("salted_key").alias("n"))
        .join(hot, "cell_s", "left_semi")
        .collect()
    )
    assert fan and all(r.n > 1 for r in fan)


def test_pip_join_shuffle_strategy_same_result(spark, polys):
    # the big-polygon-set path: shuffle join on cell gives identical
    # rows to the broadcast path
    pages = pages_meta_df(spark, SF)
    bc = {
        (r.page_id, r.code)
        for r in sj.pip_join(pages, polys, res=7).select("page_id", "code").collect()
    }
    sh = {
        (r.page_id, r.code)
        for r in sj.pip_join(pages, polys, res=7, broadcast_covering=False)
        .select("page_id", "code")
        .collect()
    }
    assert bc == sh


def test_salted_hot_keys_sampled_detection_same_merge(spark):
    """Sampled hot detection must leave the merged aggregate identical
    (correctness is invariant to WHICH keys get salted)."""
    from earth_data_kit_spark.functions.columns import cell_id_col
    from pyspark.sql import functions as F

    pages = pages_meta_df(spark, SF)
    df = pages.withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), 7))
    salted, hot = sj.salted_hot_keys(
        df, "cell", hot_threshold=50, salt_buckets=8, sample_fraction=0.3
    )
    assert hot.count() >= 1  # the 20% dense cell survives a 30% sample
    merged = {
        r.cell: r.n
        for r in salted.groupBy("cell", "salted_key")
        .agg(F.count("*").alias("n"))
        .groupBy("cell")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    direct = {r.cell: r["count"] for r in df.groupBy("cell").count().collect()}
    assert merged == direct
