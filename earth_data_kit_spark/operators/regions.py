"""Region labeling: distributed connected components over a raster
(the core of GDAL ``polygonize`` — which regions exist, their value,
size and extent — without tracing vector rings).

A region is a maximal 4-connected set of equal-valued pixels.  The
classic single-node algorithm is two-pass CCL; at mosaic scale the
raster lives as blocks on many executors, so the engine splits it.
This module holds the labelling body ``region_label`` and
``polygonize`` (operators/polygonize.py) share — polygonize adds only
its interior boundary edges:

1. **Per-block CCL** (``_label_map``, one map-only Arrow pass):
   run-based two-pass labeling in numpy — row runs of equal value
   (vectorized via ``np.diff``), union-find over run-to-run
   adjacencies between consecutive rows (loops are over RUNS, not
   pixels).  Local labels are made globally unique by block id, so
   no coordination is needed.  The pass emits (a) one row per local
   region with its stats (value, pixel count, bbox), and (b) the
   block's four border rows as (axis, coordinate, offset, side,
   label, value) — the ONLY pixels any other block ever needs to
   see.  Side 0 is the pixel at coordinate-1 (a block's right/bottom
   edge), side 1 the pixel at the coordinate (left/top edge).
2. **Border join + label merge** (``_merge``): side-0 and side-1 rows
   meet on the shared edge coordinate (axis, coord, off); where the
   two values are equal the pair is a cross-block edge → a tiny
   (label_a, label_b) table.  Shuffle volume is O(perimeter), not
   O(area).  ``dedup.dup_clusters`` (the engine's one CC routine,
   O(log diameter) rounds — a region may run across any number of
   blocks) maps every label to its region id.
3. **Remap** (``_to_region``): a broadcast join carries local rows
   onto region ids; ``_region_stats`` combines the stats natively
   (sum counts, min/max bbox).

Output: (region bigint, value double, n_px bigint, xmin, ymin,
xmax, ymax int) — one row per connected region, valued by the
stored (unscaled) sample.  ``background`` pixels — nodata or NaN,
the ``blocks._samples`` rule — form no region.  The call is eager:
the labelled blocks are cached for the call only and the result is
materialized by ``localCheckpoint`` before the cache is released.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earth_data_kit_spark.operators.blocks import _decode, _samples
from earth_data_kit_spark.operators.dedup import dup_clusters

# local regions per block are numbered 0..n-1; global uniqueness via
# block ordinal * _BLOCK_STRIDE (a 256x256 block has < 65536 runs)
_BLOCK_STRIDE = 1 << 20


def _label_block(arr: np.ndarray, valid: np.ndarray):
    """Run-based two-pass 4-connected CCL.  Returns (labels int32
    array with -1 for invalid, n_labels).  Loops are over runs."""
    h, w = arr.shape
    labels = np.full((h, w), -1, dtype=np.int64)
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    prev_runs: list[tuple[int, int, int, float]] = []  # (x0, x1, label, value)
    for y in range(h):
        row = arr[y]
        v = valid[y]
        # run boundaries: value change or validity change
        if w == 1:
            starts = np.array([0])
        else:
            brk = (row[1:] != row[:-1]) | (v[1:] != v[:-1])
            starts = np.concatenate(([0], np.nonzero(brk)[0] + 1))
        ends = np.concatenate((starts[1:], [w]))
        runs = []
        for x0, x1 in zip(starts, ends):
            if not v[x0]:
                continue
            lab = len(parent)
            parent.append(lab)
            labels[y, x0:x1] = lab
            runs.append((int(x0), int(x1), lab, row[x0]))
        # merge with overlapping equal-valued runs of the previous row
        i = j = 0
        while i < len(runs) and j < len(prev_runs):
            a0, a1, la, va = runs[i]
            b0, b1, lb, vb = prev_runs[j]
            if a0 < b1 and b0 < a1 and va == vb:
                union(la, lb)
            if a1 <= b1:
                i += 1
            else:
                j += 1
        prev_runs = runs
    # flatten union-find → dense root ids
    roots = np.array([find(i) for i in range(len(parent))], dtype=np.int64)
    uniq, dense = np.unique(roots, return_inverse=True)
    m = labels >= 0
    labels[m] = dense[labels[m]]
    return labels, len(uniq)


# Row kinds of the per-block labelling pass (one fused Arrow map):
_K_STATS = 0  # per-local-region partial stats, pixel bbox in x1..y2
_K_SIDE = 1  # block-border pixel at (axis, coord, off) on ``side``
_K_EDGE = 2  # polygonize's interior boundary edge (x1, y1) → (x2, y2)

_MAP_SCHEMA = (
    "kind int, label bigint, value double, n_px bigint, "
    "axis int, coord int, off int, side int, "
    "x1 int, y1 int, x2 int, y2 int"
)
_PD_TYPES = {"int": "int32", "bigint": "int64", "double": "float64"}
_MAP_DTYPES = {name: _PD_TYPES[t] for name, t in (f.split() for f in _MAP_SCHEMA.split(", "))}


def _frame(n: int, **cols) -> pd.DataFrame:
    """``n`` rows of the map schema; absent columns are 0, scalars
    broadcast."""
    return pd.DataFrame(
        {c: np.broadcast_to(cols.get(c, 0), n).astype(t) for c, t in _MAP_DTYPES.items()}
    )


def _label_map(
    blocks: DataFrame, raster_size: tuple[int, int], block: int, edges=None
) -> DataFrame:
    """The per-block labelling pass → ``_MAP_SCHEMA`` rows: stats and
    border rows for every block, plus ``edges(labels, xo, yo) →
    (local labels, (n, 4) global edge coords)`` rows when given."""
    w, h = raster_size
    n_bx = -(-w // block)

    def per_block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                arr = _decode(r).astype(np.float64)
                labels, n = _label_block(arr, ~np.isnan(_samples(r)))
                bx, by = int(r["block_x"]), int(r["block_y"])
                xo, yo = int(r["xoff"]), int(r["yoff"])
                base = (by * n_bx + bx) * _BLOCK_STRIDE
                m = labels >= 0
                if not m.any():
                    continue
                flat = labels[m]
                ys, xs = np.nonzero(m)
                value = np.zeros(n)
                value[flat] = arr[m]  # any member's value (all equal)
                gxmin = np.full(n, w, dtype=np.int64)
                gxmax = np.full(n, -1, dtype=np.int64)
                gymin = np.full(n, h, dtype=np.int64)
                gymax = np.full(n, -1, dtype=np.int64)
                np.minimum.at(gxmin, flat, xs + xo)
                np.maximum.at(gxmax, flat, xs + xo)
                np.minimum.at(gymin, flat, ys + yo)
                np.maximum.at(gymax, flat, ys + yo)
                out.append(_frame(
                    n, kind=_K_STATS, label=base + np.arange(n), value=value,
                    n_px=np.bincount(flat, minlength=n),
                    x1=gxmin, y1=gymin, x2=gxmax, y2=gymax,
                ))
                # border rows, vectorized, in global edge coordinates
                # so adjacent blocks join on equality: axis 0 =
                # vertical edge at x = coord, axis 1 = horizontal
                # edge at y = coord.
                bh, bw = arr.shape
                for axis, side, side_lab, side_val, coord, offs in (
                    (0, 0, labels[:, bw - 1], arr[:, bw - 1], xo + bw, yo + np.arange(bh)),
                    (0, 1, labels[:, 0], arr[:, 0], xo, yo + np.arange(bh)),
                    (1, 0, labels[bh - 1, :], arr[bh - 1, :], yo + bh, xo + np.arange(bw)),
                    (1, 1, labels[0, :], arr[0, :], yo, xo + np.arange(bw)),
                ):
                    keep = side_lab >= 0
                    if keep.any():
                        out.append(_frame(
                            int(keep.sum()), kind=_K_SIDE, label=base + side_lab[keep],
                            value=side_val[keep], axis=axis, coord=coord,
                            off=offs[keep], side=side,
                        ))
                if edges is not None:
                    elab, ec = edges(labels, xo, yo)
                    if len(elab):
                        out.append(_frame(
                            len(elab), kind=_K_EDGE, label=base + elab,
                            x1=ec[:, 0], y1=ec[:, 1], x2=ec[:, 2], y2=ec[:, 3],
                        ))
            yield pd.concat(out, ignore_index=True) if out else _frame(0)

    return blocks.mapInPandas(per_block, schema=_MAP_SCHEMA)


def _merge(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Border join and label merge → ``(border, mapping)``.  ``border``
    is the side-0 ⋈ side-1 full outer join on (axis, coord, off) with
    columns l0, v0, l1, v1 (a side is null at the raster edge or a
    nodata neighbor); ``mapping`` is (label, cluster) over the labels
    that touch an equal-valued pixel across a block border."""
    side = raw.where(F.col("kind") == _K_SIDE)
    s0, s1 = (
        side.where(F.col("side") == s).select(
            "axis", "coord", "off",
            F.col("label").alias(f"l{s}"), F.col("value").alias(f"v{s}"),
        )
        for s in (0, 1)
    )
    border = s0.join(s1, ["axis", "coord", "off"], "full")
    pairs = border.where(F.col("v0") == F.col("v1")).select(
        F.col("l0").alias("id_a"), F.col("l1").alias("id_b")
    )
    return border, dup_clusters(pairs).withColumnRenamed("id", "label")


def _to_region(df: DataFrame, mapping: DataFrame) -> DataFrame:
    """Replace ``df``'s local ``label`` by its global ``region`` id."""
    return (
        df.join(F.broadcast(mapping), "label", "left")
        .withColumn("region", F.coalesce(F.col("cluster"), F.col("label")))
        .drop("label", "cluster")
    )


def _region_stats(raw: DataFrame, mapping: DataFrame) -> DataFrame:
    """(region, value, n_px, xmin, ymin, xmax, ymax) per region."""
    return _to_region(raw.where(F.col("kind") == _K_STATS), mapping).groupBy("region").agg(
        F.first("value").alias("value"),
        F.sum("n_px").alias("n_px"),
        F.min("x1").alias("xmin"),
        F.min("y1").alias("ymin"),
        F.max("x2").alias("xmax"),
        F.max("y2").alias("ymax"),
    )


def region_label(
    blocks: DataFrame,
    raster_size: tuple[int, int],
    block: int,
) -> DataFrame:
    """Connected equal-valued regions of a blocks raster → one row
    per region: (region, value, n_px, xmin, ymin, xmax, ymax).
    Pixels equal to the block's ``nodataval``, or NaN, are
    background."""
    raw = _label_map(blocks, raster_size, block).persist()
    try:
        _, mapping = _merge(raw)
        return _region_stats(raw, mapping).localCheckpoint()
    finally:
        raw.unpersist()
