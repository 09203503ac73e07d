"""DataFrame polygon side (operators/polygons.py — VERDICT r5 task 3)
vs the driver-list path it twins: cell-for-cell covering parity vs
``grid.cells.covering_bbox`` (incl. antimeridian wrap), row-for-row
list==DataFrame parity for pip_join / zonal_stats / rasterize, the
10^5-polygon parity run, and plan-shape assertions (in-plan covering
generators, shuffle join above the broadcast threshold)."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.grid import cells
from earth_data_kit_spark.operators import polygons as P
from earth_data_kit_spark.operators import spatial_join as sj
from earth_data_kit_spark.operators.blocks import synth_blocks_df
from earth_data_kit_spark.operators.rasterize import rasterize
from earth_data_kit_spark.operators.zonal import zonal_stats
from earth_data_kit_spark.sources.pages import pages_meta_df

SF = "/root/testdata/sf0.001"
GT = (10.0, 0.1, 0.0, 50.0, 0.0, -0.1)

RECT = ("AL", (19.3044861183, 39.624997667, 21.0200403175, 42.6882473822))
WIDE = ("IN", (68.1766451354, 7.96553477623, 97.4025614766, 35.4940095078))
CONCAVE = ("CC", "POLYGON ((0 0, 30 0, 30 10, 10 10, 10 30, 30 30, 30 40, 0 40, 0 0))")
HOLED = (
    "HH",
    "POLYGON ((-60 -20, -20 -20, -20 20, -60 20, -60 -20), "
    "(-45 -5, -35 -5, -35 5, -45 5, -45 -5))",
)
ANTI = ("AM", (170.0, -20.0, -170.0, 10.0))  # xmin > xmax: wraps ±180


def _polys_list():
    return [
        sj.Polygon(code=RECT[0], name="r", bbox=RECT[1]),
        sj.Polygon(code=WIDE[0], name="w", bbox=WIDE[1]),
        sj.Polygon(code=CONCAVE[0], name="c", wkt=CONCAVE[1]),
        sj.Polygon(code=HOLED[0], name="h", wkt=HOLED[1]),
        sj.Polygon(code=ANTI[0], name="a", bbox=ANTI[1]),
    ]


def _polys_df(spark):
    rows = []
    for code, bb in (RECT, WIDE, ANTI):
        rows.append((code, None, *[float(v) for v in bb]))
    for code, wkt in (CONCAVE, HOLED):
        rows.append((code, wkt, None, None, None, None))
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["code", "wkt", "xmin", "ymin", "xmax", "ymax"]
        ).astype({"xmin": float, "ymin": float, "xmax": float, "ymax": float}),
        "code string, wkt string, xmin double, ymin double, "
        "xmax double, ymax double",
    )


# ----------------------------------------------------- covering parity


def test_covering_cells_df_matches_covering_bbox(spark):
    """In-plan covering == grid.cells.covering_bbox cell-for-cell on
    random boxes + the antimeridian wrap, at two resolutions."""
    rng = np.random.default_rng(11)
    boxes = []
    for i in range(40):
        x0, x1 = sorted(rng.uniform(-179.9, 179.9, 2))
        y0, y1 = sorted(rng.uniform(-89.9, 89.9, 2))
        boxes.append((f"b{i}", x0, y0, x1, y1))
    boxes.append(("wrap", 170.0, -20.0, -170.0, 10.0))  # xmin > xmax
    boxes.append(("wrap2", 179.5, 40.0, -179.5, 41.0))
    pdf = pd.DataFrame(boxes, columns=["code", "xmin", "ymin", "xmax", "ymax"])
    df = spark.createDataFrame(pdf).withColumn("wkt", F.lit(None).cast("string"))
    for res in (3, 7):
        got = {
            (r["code"], r["cell"])
            for r in P.covering_cells_df(
                P.normalize_polygons_df(df), res
            ).collect()
        }
        exp = set()
        for code, x0, y0, x1, y1 in boxes:
            for c in cells.covering_bbox(x0, y0, x1, y1, res):
                exp.add((code, c))
        assert got == exp, f"res={res}"


def test_normalize_derives_wkt_bbox_in_plan(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"code": ["CC", "HH"], "wkt": [CONCAVE[1], HOLED[1]]})
    )
    got = {r["code"]: r for r in P.normalize_polygons_df(df).collect()}
    assert got["CC"]["xmin"] == 0.0 and got["CC"]["xmax"] == 30.0
    assert got["CC"]["ymin"] == 0.0 and got["CC"]["ymax"] == 40.0
    assert got["HH"]["xmin"] == -60.0 and got["HH"]["ymax"] == 20.0


def test_normalize_is_arrow_config_independent(spark):
    """r6 driver regression (VERDICT r6 What's-wrong #1): the
    correctness driver runs WITHOUT Arrow, so pandas ``None`` in
    double columns arrives as NaN — which is not NULL, silently
    skipping the fill-missing-bbox gate for WKT rows.  The engine must
    produce identical rows either way: NaN bboxes are normalized to
    NULL at the top of ``normalize_polygons_df``."""
    old = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
        df = _polys_df(spark)  # pandas-built: None → NaN without Arrow
        # the raw frame really does carry NaN (the driver's condition)
        raw = {r["code"]: r for r in df.collect()}
        assert any(
            r["xmin"] is not None and np.isnan(r["xmin"]) for r in raw.values()
        ), "fixture no longer reproduces the NaN seam"
        norm = {r["code"]: r for r in P.normalize_polygons_df(df).collect()}
        # WKT rows got their bbox derived despite arriving as NaN
        assert norm["CC"]["xmin"] == 0.0 and norm["CC"]["xmax"] == 30.0
        assert norm["HH"]["xmin"] == -60.0 and norm["HH"]["ymax"] == 20.0
        # and the full join parity holds under the driver's session shape
        pages = pages_meta_df(spark, SF)
        got = {
            (r["page_id"], r["code"])
            for r in sj.pip_join(pages, df, res=7)
            .select("page_id", "code")
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", old)
    want = {
        (r["page_id"], r["code"])
        for r in sj.pip_join(pages, _polys_list(), res=7)
        .select("page_id", "code")
        .collect()
    }
    assert got == want and len(got) > 0


# ----------------------------------------------------- pip_join parity


def test_pip_join_list_df_parity(spark):
    pages = pages_meta_df(spark, SF)
    want = {
        (r["page_id"], r["code"])
        for r in sj.pip_join(pages, _polys_list(), res=7)
        .select("page_id", "code")
        .collect()
    }
    got = {
        (r["page_id"], r["code"])
        for r in sj.pip_join(pages, _polys_df(spark), res=7)
        .select("page_id", "code")
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_pip_join_s2_h3_match_quadgrid_table_path(spark):
    """The parity fixture — rectangle, wide box, concave shell, holed
    shell, antimeridian box — through the S2 and H3 coverings returns
    exactly the quadgrid table path's rows: every scheme refines the
    same polygon table, holes and concave shells included."""
    from earth_data_kit_spark.operators.spatial_join_h3 import pip_join_h3
    from earth_data_kit_spark.operators.spatial_join_s2 import pip_join_s2

    pages = pages_meta_df(spark, SF)
    want = sj.pip_join(pages, _polys_df(spark), res=7).select("page_id", "code")
    codes = {r["code"] for r in want.select("code").distinct().collect()}
    assert codes >= {RECT[0], CONCAVE[0], HOLED[0]}, codes
    for got in (
        pip_join_s2(pages, _polys_list(), level=6),
        pip_join_h3(pages, _polys_list(), res=4),
    ):
        got = got.select("page_id", "code")
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_pip_join_df_shuffle_path_same_rows(spark):
    pages = pages_meta_df(spark, SF)
    bc = sj.pip_join(pages, _polys_df(spark), res=7, broadcast_covering=True)
    a = {(r["page_id"], r["code"]) for r in bc.select("page_id", "code").collect()}
    bplan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in bplan
    # shuffle path: kill auto-broadcast so Catalyst can't silently
    # promote the tiny test covering, then require a shuffle join
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh = sj.pip_join(pages, _polys_df(spark), res=7, broadcast_covering=False)
        b = {(r["page_id"], r["code"]) for r in sh.select("page_id", "code").collect()}
        assert a == b
        plan = sh._jdf.queryExecution().executedPlan().toString()
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pip_join_df_plan_covering_in_plan(spark):
    """The polygon covering is generated by explode(sequence) nodes in
    the PLAN — no driver-side covering materialization."""
    pages = pages_meta_df(spark, SF)
    out = sj.pip_join(pages, _polys_df(spark), res=7, broadcast_covering=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate explode" in plan or "explode" in plan
    assert "sequence(" in plan


def test_pip_join_df_100k_polygons_parity(spark):
    """VERDICT r5 task 3 'Done' gate: list==DataFrame parity at 10^5
    polygons.  Tiny rectangles scattered over the pages extent; the
    DataFrame path must neither collect nor diverge."""
    n = 100_000
    rng = np.random.default_rng(23)
    cx = rng.uniform(-175, 175, n)
    cy = rng.uniform(-85, 85, n)
    w = rng.uniform(0.05, 0.4, n)
    h = rng.uniform(0.05, 0.4, n)
    pdf = pd.DataFrame(
        {
            "code": [f"p{i}" for i in range(n)],
            "xmin": cx - w, "ymin": cy - h, "xmax": cx + w, "ymax": cy + h,
        }
    )
    pages = pages_meta_df(spark, SF).select("page_id", "lon", "lat")
    df_out = sj.pip_join(
        pages, spark.createDataFrame(pdf), res=7, broadcast_covering=False
    )
    got = {(r["page_id"], r["code"]) for r in df_out.select("page_id", "code").collect()}
    # independent vectorized oracle: point-in-rect over the page sample
    pg = pages.toPandas()
    lon = pg["lon"].values[:, None]
    lat = pg["lat"].values[:, None]
    # chunk the 10^5 polygons to bound memory
    exp = set()
    ids = pg["page_id"].values
    for s in range(0, n, 20_000):
        e = min(s + 20_000, n)
        m = (
            (lon >= pdf["xmin"].values[None, s:e])
            & (lon <= pdf["xmax"].values[None, s:e])
            & (lat >= pdf["ymin"].values[None, s:e])
            & (lat <= pdf["ymax"].values[None, s:e])
        )
        pi, pj = np.nonzero(m)
        for a, b in zip(pi, pj):
            exp.add((int(ids[a]), f"p{b + s}"))
    assert got == exp


# -------------------------------------------------------- zonal parity


def test_zonal_stats_list_df_parity(spark):
    blocks = synth_blocks_df(spark, 512, 512, 128)
    polys = [
        sj.Polygon("A", "a", bbox=(12.03, 41.02, 20.57, 45.49)),
        sj.Polygon("B", "b", bbox=(10.01, 48.0, 11.99, 49.99)),
        sj.Polygon("T", "t", wkt="POLYGON ((11.03 44.97, 14.57 49.13, 16.01 41.02, 11.03 44.97))"),
    ]
    pdf = pd.DataFrame(
        {
            "code": ["A", "B", "T"],
            "wkt": [None, None, polys[2].wkt],
            "xmin": [12.03, 10.01, None], "ymin": [41.02, 48.0, None],
            "xmax": [20.57, 11.99, None], "ymax": [45.49, 49.99, None],
        }
    )
    pdf_df = spark.createDataFrame(
        pdf,
        "code string, wkt string, xmin double, ymin double, xmax double, ymax double",
    )
    want = {
        r["code"]: r.asDict() for r in zonal_stats(blocks, polys, GT).collect()
    }
    got = {
        r["code"]: r.asDict()
        for r in zonal_stats(blocks, pdf_df, GT, tile_px=256).collect()
    }
    assert set(got) == set(want)
    for code in want:
        for k in ("n_px", "mean_v", "std_v", "min_v", "max_v", "band"):
            assert got[code][k] == pytest.approx(want[code][k]), (code, k)


@pytest.mark.parametrize("op", ["zonal_stats", "rasterize"])
def test_zonal_df_plan_is_equi_join(spark, op):
    """The DataFrame polygon path must plan a hash EQUI-join on the
    pixel-tile key (broadcastable AND shuffleable), never the
    nested-loop bbox theta join the list path's broadcast uses, and
    must keep each (block, polygon) pair once without an aggregate
    over payload-carrying rows; rasterize groups its pairs with one
    exchange on the block key."""
    blocks = synth_blocks_df(spark, 512, 512, 128)
    pdf_df = spark.createDataFrame(
        pd.DataFrame(
            {"code": ["A"], "wkt": [None], "xmin": [12.0], "ymin": [41.0],
             "xmax": [20.0], "ymax": [45.0], "burn_v": [1.0], "burn_ord": [0]}
        ),
        "code string, wkt string, xmin double, ymin double, xmax double, "
        "ymax double, burn_v double, burn_ord int",
    )
    if op == "zonal_stats":
        out = zonal_stats(blocks, pdf_df, GT, tile_px=256)
    else:
        out = rasterize(spark, pdf_df, GT, 512, 512, block=128, tile_px=256)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
    assert "SortAggregate" not in plan
    assert "first(payload" not in plan
    if op == "rasterize":
        keyed = re.findall(r"Exchange hashpartitioning\(block_x#\d+, block_y#\d+", plan)
        assert len(keyed) == 1, plan


# ---------------------------------------------------- rasterize parity


def test_rasterize_list_df_parity(spark):
    from earth_data_kit_spark.operators.blocks import _decode

    polys = [
        sj.Polygon("A", "a", bbox=(12.0, 42.0, 20.0, 45.0)),
        sj.Polygon("T", "t", wkt="POLYGON ((11.0 44.0, 14.5 49.0, 16.0 41.0, 11.0 44.0))"),
    ]
    pdf_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "code": ["A", "T"],
                "wkt": [None, polys[1].wkt],
                "xmin": [12.0, None], "ymin": [42.0, None],
                "xmax": [20.0, None], "ymax": [45.0, None],
                "burn_v": [1.0, 2.0],
                "burn_ord": [0, 1],
            }
        ),
        "code string, wkt string, xmin double, ymin double, xmax double, "
        "ymax double, burn_v double, burn_ord int",
    )

    def _image(df, w, h, block):
        img = np.zeros((h, w), dtype=np.float64)
        for r in df.collect():
            arr = _decode(r)
            y0, x0 = int(r["yoff"]), int(r["xoff"])
            img[y0 : y0 + arr.shape[0], x0 : x0 + arr.shape[1]] = arr
        return img

    w = h = 256
    a = _image(rasterize(spark, polys, GT, w, h, block=64), w, h, 64)
    b = _image(
        rasterize(spark, pdf_df, GT, w, h, block=64, tile_px=128), w, h, 64
    )
    assert np.array_equal(a, b)
    assert (a == 1.0).any() and (a == 2.0).any()


def test_rasterize_df_requires_burn_columns(spark):
    pdf_df = spark.createDataFrame(
        pd.DataFrame({"code": ["A"], "xmin": [1.0], "ymin": [1.0], "xmax": [2.0], "ymax": [2.0]})
    )
    with pytest.raises(ValueError, match="burn"):
        rasterize(spark, pdf_df, GT, 64, 64, block=32).collect()
