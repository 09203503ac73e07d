"""Contour segments (operators/contour.py).  Oracles avoid
reimplementing marching squares: (1) BLOCKING INVARIANCE — the same
raster contoured at block=whole-raster (one task marches everything
locally, i.e. the unblocked reference) must equal small-block runs
segment-for-segment, which pins the halo routing; (2) geometric
invariants on closed forms (ramp → straight line, cone → closed
loop of radius R)."""

from collections import Counter

import numpy as np
import pytest

from earth_data_kit_spark.operators.blocks import BLOCK_SCHEMA
from earth_data_kit_spark.operators.contour import contour_segments


def _blocks_df(spark, arr, block, nodataval=float("nan")):
    rows = []
    h, w = arr.shape
    for by in range(0, h, block):
        for bx in range(0, w, block):
            sub = np.ascontiguousarray(arr[by: by + block, bx: bx + block])
            rows.append(
                ("t", "B1", bx // block, by // block, bx, by,
                 sub.shape[1], sub.shape[0], "float32", nodataval,
                 1.0, 0.0, sub.tobytes())
            )
    return spark.createDataFrame(rows, BLOCK_SCHEMA)


def _segs(spark, arr, block, levels, nodataval=float("nan")):
    h, w = arr.shape
    blocks = _blocks_df(spark, arr, block, nodataval)
    rows = contour_segments(blocks, (w, h), block, levels).collect()
    return Counter(
        (r["level"],) + tuple(round(v, 6) for v in (r["x1"], r["y1"], r["x2"], r["y2"]))
        for r in rows
    )


def test_blocking_invariance_random_raster(spark):
    """block=256 (single task = unblocked oracle) vs block=16 and
    block=7 (ragged edges): identical segment multisets."""
    rng = np.random.default_rng(11)
    arr = rng.normal(0, 10, (60, 75)).astype(np.float32)
    levels = [-5.0, 0.25, 7.5]
    ref = _segs(spark, arr, 256, levels)
    assert len(ref) > 200
    assert _segs(spark, arr, 16, levels) == ref
    assert _segs(spark, arr, 7, levels) == ref


def test_linear_ramp_is_a_straight_line(spark):
    x = np.tile(np.arange(40, dtype=np.float32), (30, 1))
    got = _segs(spark, x, 16, [10.25])
    assert len(got) == 29  # one vertical segment per cell row
    for (_lv, x1, y1, x2, y2), n in got.items():
        assert n == 1
        assert x1 == x2 == pytest.approx(10.25)
        assert abs(y2 - y1) == 1.0


def test_cone_contour_is_a_closed_loop(spark):
    h = w = 64
    yy, xx = np.mgrid[0:h, 0:w]
    z = np.hypot(xx - 31.5, yy - 31.5).astype(np.float32)
    R = 20.0
    got = _segs(spark, z, 16, [R])
    # every endpoint is shared by exactly two segments → closed loop
    ends = Counter()
    total = 0.0
    for (_lv, x1, y1, x2, y2), n in got.items():
        assert n == 1
        ends[(x1, y1)] += 1
        ends[(x2, y2)] += 1
        total += float(np.hypot(x2 - x1, y2 - y1))
    assert set(ends.values()) == {2}
    assert total == pytest.approx(2 * np.pi * R, rel=0.01)
    # endpoints sit on the level circle within a cell diagonal
    for (ex, ey) in ends:
        assert np.hypot(ex - 31.5, ey - 31.5) == pytest.approx(R, abs=0.75)


def test_nodata_cells_produce_no_segments(spark):
    x = np.tile(np.arange(40, dtype=np.float32), (30, 1))
    x[10:12, :] = np.nan
    got = _segs(spark, x, 16, [10.25])
    ys = {min(y1, y2) for (_l, x1, y1, x2, y2) in got}
    # cells anchored at rows 9, 10, 11 touch a NaN corner → absent
    assert ys == {float(v) for v in range(30 - 1) if v not in (9, 10, 11)}


def test_nodataval_cells_produce_no_segments(spark):
    """As above with a finite nodata value: pixels equal to the
    blocks' ``nodataval`` are masked like NaN, not contoured as data."""
    x = np.tile(np.arange(40, dtype=np.float32), (30, 1))
    x[10:12, :] = -9999.0
    got = _segs(spark, x, 16, [10.25], nodataval=-9999.0)
    ys = {min(y1, y2) for (_l, x1, y1, x2, y2) in got}
    assert ys == {float(v) for v in range(30 - 1) if v not in (9, 10, 11)}


def test_contour_lines_stitching(spark):
    """Two concentric circles → exactly two line_ids, each a closed
    loop; a ramp line → one line_id."""
    from earth_data_kit_spark.operators.contour import contour_lines

    h = w = 64
    yy, xx = np.mgrid[0:h, 0:w]
    z = np.hypot(xx - 31.5, yy - 31.5).astype(np.float32)
    segs = contour_segments(_blocks_df(spark, z, 16), (w, h), 16, [12.0, 24.0])
    lines = contour_lines(segs).collect()
    by_line = {}
    for r in lines:
        by_line.setdefault((r["level"], r["line_id"]), []).append(r)
    assert len(by_line) == 2  # one loop per level
    for (lv, _lid), ss in by_line.items():
        ends = Counter()
        for r in ss:
            ends[(round(r["x1"], 6), round(r["y1"], 6))] += 1
            ends[(round(r["x2"], 6), round(r["y2"], 6))] += 1
        assert set(ends.values()) == {2}  # each loop closed

    ramp = np.tile(np.arange(40, dtype=np.float32), (30, 1))
    rsegs = contour_segments(_blocks_df(spark, ramp, 16), (40, 30), 16, [10.25])
    rlines = contour_lines(rsegs).collect()
    assert len({r["line_id"] for r in rlines}) == 1


def test_cc_logarithmic_convergence(spark):
    """Convergence property for the stitching CC: a single 10k-node
    cycle (the adversarial shape — diameter n/2, so plain min-label
    propagation would need ~5k rounds) labels in O(log n) rounds
    under the large-star/small-star + compose alternation.  Node ids
    are a random permutation so pointer chains are realistic, not
    presorted."""
    from earth_data_kit_spark.operators.contour import _cc_star_contraction

    n = 10_000
    rng = np.random.default_rng(7)
    ids = rng.permutation(n * 13)[:n].astype(np.int64).tolist()
    edges = spark.createDataFrame(
        [(int(ids[i]), int(ids[(i + 1) % n])) for i in range(n)],
        "id_a long, id_b long",
    ).repartition(8)
    stats: dict = {}
    lab = _cc_star_contraction(edges, stats=stats)
    clusters = [r["cluster"] for r in lab.select("cluster").distinct().collect()]
    assert clusters == [min(ids)]
    bound = int(2 * np.log2(n)) + 1  # ~27 for n=10k
    assert stats["outer"] <= bound, stats
