"""Raster block pipeline: windowed reads, mask/scale, partial-agg
reduction, regrid — the reference's xarray backend as DataFrame ops.

The reference reads rasters in clamped pixel windows
(/root/reference/earth_data_kit/xarray_boosted/entrypoint.py:95-133,
R1), masks nodata → NaN (entrypoint.py:75-84, F8), applies
scale/offset (86-91, F9), assembles chunks (edk_accessor.py:344-393,
R3) and reduces with a manual weighted mean across threads
(benchmarks/read_gdal_parallel.py:44-50, A5).

Spark restatement: a **blocks table** — one row per raster block with
the payload as a binary column of raw little-endian samples —
processed by Arrow-batched ``mapInPandas``.  Block metadata (offsets,
sizes) are plain columns, so window pruning is a Catalyst range
filter that reaches the parquet scan; only surviving blocks are
decoded in Python.  The global mean is a two-level aggregation: the
pandas stage emits per-block (sum, count) partials, the final agg is
native — exactly Spark's partial/final model, replacing the
reference's hand-rolled thread pool.

At 100 TB: blocks parquet is partitioned/sorted by (band,
zorder(block)) so a window read prunes row groups; per-block payloads
are O(block_size²·dtype) ≈ 0.5-8 MB — sized by the reference's own
heuristic (grid/affine.py block_chunk_size, F14).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earth_data_kit_spark.grid.affine import pixel_window_clamped
from earth_data_kit_spark.operators.gtiff import _DTYPES

BLOCK_SCHEMA = (
    "tile_name string, band string, block_x int, block_y int, "
    "xoff int, yoff int, xsize int, ysize int, dtype string, "
    "nodataval double, scale double, offset double, payload binary"
)


def synth_blocks_df(
    spark: SparkSession,
    raster_x: int = 1024,
    raster_y: int = 1024,
    block: int = 256,
    band: str = "B1",
    nodata: float = 32767.0,
    scale: float = 1e-4,
    dtype: str = "int16",
    nodata_stripe: bool = True,
) -> DataFrame:
    """Deterministic synthetic raster, value(x, y) = (x*31 + y*17) %
    30000, with a nodata stripe at y % 97 == 0 (optional) — cut into
    blocks.  Built driver-side (small) then parallelized; a real
    ingest would mapInPandas over tile paths."""
    rows = []
    for by in range(0, raster_y, block):
        for bx in range(0, raster_x, block):
            xs = min(block, raster_x - bx)
            ys = min(block, raster_y - by)
            xg, yg = np.meshgrid(np.arange(bx, bx + xs), np.arange(by, by + ys))
            v = ((xg * 31 + yg * 17) % 30000).astype(np.int16)
            if nodata_stripe:
                v[yg % 97 == 0] = np.int16(int(nodata))
            rows.append(
                (
                    "synth", band, bx // block, by // block,
                    bx, by, xs, ys, dtype, nodata, scale, 0.0,
                    v.tobytes(),
                )
            )
    # partition count follows spark.sql.shuffle.partitions (session
    # cores) so downstream Arrow stages parallelize at every level —
    # a hardcoded 8 capped the 32-core bench at 8 decode tasks
    return spark.createDataFrame(rows, BLOCK_SCHEMA).repartition("block_x", "block_y")


def window_filter(blocks: DataFrame, xoff: int, yoff: int, xsize: int, ysize: int) -> DataFrame:
    """Prune blocks outside the read window — a pure Column range
    predicate (pushes to the parquet scan; no payload decode)."""
    return blocks.where(
        (F.col("xoff") < xoff + xsize)
        & (F.col("xoff") + F.col("xsize") > xoff)
        & (F.col("yoff") < yoff + ysize)
        & (F.col("yoff") + F.col("ysize") > yoff)
    )


def _decode(row) -> np.ndarray:
    """A block row's stored samples as a (ysize, xsize) array of its
    ``dtype`` (any name in the GeoTIFF dtype table)."""
    a = np.frombuffer(row["payload"], dtype=_DTYPES[row["dtype"]][2])
    return a.reshape(int(row["ysize"]), int(row["xsize"]))


def _samples(row, window=np.s_[:, :], ftype=np.float64) -> np.ndarray:
    """The one sample rule (reference entrypoint.py:75-91, F8/F9): the
    ``window`` (row, column slices) of a block row's stored values as
    ``ftype``, nodata → NaN, then ``* scale + offset``, all in
    ``ftype``.  A sample that is already NaN stays NaN, so every
    caller reads NaN as missing."""
    a = _decode(row)[window].astype(ftype)
    nod = row["nodataval"]
    if nod is not None:
        a[a == ftype(nod)] = np.nan
    return a * ftype(row["scale"]) + ftype(row["offset"])


# --- halo exchange: the block-neighbourhood layer of focal and contour.
# A block-grid destination (bx, by) needs the pixel window
# [c0 - lo, c1 + hi) of its own block, clamped to the raster; the
# strip cutter ships each source block's intersection with every
# neighbouring destination's window, the window assembler rebuilds it.

_STRIP_SCHEMA = (
    "band string, dst_bx int, dst_by int, xoff int, yoff int, "
    "xsize int, ysize int, payload binary, dtype string, "
    "nodataval double, scale double, offset double"
)


def _halo_window(bx: int, by: int, block: int, raster_size: tuple[int, int],
                 lo: int, hi: int) -> tuple[int, int, int, int]:
    """(x0, y0, x1, y1) of block (bx, by)'s window widened by ``lo``
    pixels left/up and ``hi`` right/down, clamped to the raster."""
    w, h = raster_size
    return (max(0, bx * block - lo), max(0, by * block - lo),
            min(w, (bx + 1) * block + hi), min(h, (by + 1) * block + hi))


def _halo_strips(blocks: DataFrame, raster_size: tuple[int, int], block: int,
                 lo: int, hi: int) -> DataFrame:
    """Strip cutter (map-only Arrow pass): for each source block and each
    of its 3×3 grid neighbours (itself included) emit the block's
    intersection with that destination's ``_halo_window`` — only the
    pixels the destination needs travel (``lo``, ``hi`` ≤ block).
    Requires a uniform block grid (``block_x = xoff // block``)."""
    w, h = raster_size
    n_bx, n_by = -(-w // block), -(-h // block)

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                arr = _decode(row)
                bx, by = int(row["block_x"]), int(row["block_y"])
                xo, yo = int(row["xoff"]), int(row["yoff"])
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        tbx, tby = bx + dx, by + dy
                        if not (0 <= tbx < n_bx and 0 <= tby < n_by):
                            continue
                        hx0, hy0, hx1, hy1 = _halo_window(tbx, tby, block, raster_size, lo, hi)
                        ix0, ix1 = max(xo, hx0), min(xo + arr.shape[1], hx1)
                        iy0, iy1 = max(yo, hy0), min(yo + arr.shape[0], hy1)
                        if ix0 >= ix1 or iy0 >= iy1:
                            continue
                        sub = arr[iy0 - yo: iy1 - yo, ix0 - xo: ix1 - xo]
                        out.append((
                            row["band"], tbx, tby, ix0, iy0, ix1 - ix0, iy1 - iy0,
                            np.ascontiguousarray(sub).tobytes(), row["dtype"],
                            row["nodataval"], row["scale"], row["offset"],
                        ))
            yield pd.DataFrame(out, columns=[f.split()[0] for f in _STRIP_SCHEMA.split(", ")])

    return blocks.mapInPandas(cut, schema=_STRIP_SCHEMA)


def _window(pdf: pd.DataFrame, x0: int, y0: int, x1: int, y1: int) -> np.ndarray:
    """Window assembler: the float64 raster window [x0, x1) × [y0, y1)
    from block or strip rows, each decoded by ``_samples`` with its
    own nodataval, scale and offset (parts outside the window are
    clipped, uncovered pixels stay NaN)."""
    win = np.full((y1 - y0, x1 - x0), np.nan, dtype=np.float64)
    for _, row in pdf.iterrows():
        xo, yo = int(row["xoff"]), int(row["yoff"])
        ix0, ix1 = max(xo, x0), min(xo + int(row["xsize"]), x1)
        iy0, iy1 = max(yo, y0), min(yo + int(row["ysize"]), y1)
        if ix0 < ix1 and iy0 < iy1:
            win[iy0 - y0: iy1 - y0, ix0 - x0: ix1 - x0] = _samples(
                row, np.s_[iy0 - yo: iy1 - yo, ix0 - xo: ix1 - xo]
            )
    return win


def decode_block_window(row, xoff: int, yoff: int, xsize: int, ysize: int):
    """One block's contribution to a read window: the clamped
    intersection through ``_samples`` in float32 (the reference's
    force-cast semantics, commons.py:6-7).  Returns (dst_x, dst_y,
    iw, ih, float32 array) or None when the block misses the
    window."""
    ix0, iy0, iw, ih = pixel_window_clamped(
        xoff - int(row["xoff"]), yoff - int(row["yoff"]),
        xsize, ysize, int(row["xsize"]), int(row["ysize"]),
    )
    if iw == 0 or ih == 0:
        return None
    arr = _samples(row, np.s_[iy0 : iy0 + ih, ix0 : ix0 + iw], np.float32)
    return (int(row["xoff"]) + ix0 - xoff, int(row["yoff"]) + iy0 - yoff, iw, ih, arr)


def windowed_read(
    blocks: DataFrame,
    xoff: int,
    yoff: int,
    xsize: int,
    ysize: int,
    carry_cols: tuple[str, ...] = (),
    carry_schema: str = "",
) -> DataFrame:
    """R1/R3: clamped window read returning per-block sub-arrays as
    rows (dst offsets relative to the window origin).  ``carry_cols``
    pass identity columns (e.g. t, band) through the Arrow stage so
    one job can serve many (time, band) slices of a request."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {c: [] for c in carry_cols}
            out.update({"dst_x": [], "dst_y": [], "xsize": [], "ysize": [], "values": []})
            for _, row in pdf.iterrows():
                hit = decode_block_window(row, xoff, yoff, xsize, ysize)
                if hit is None:
                    continue
                dst_x, dst_y, iw, ih, arr = hit
                for c in carry_cols:
                    out[c].append(row[c])
                out["dst_x"].append(dst_x)
                out["dst_y"].append(dst_y)
                out["xsize"].append(iw)
                out["ysize"].append(ih)
                out["values"].append(arr.ravel().tolist())
            yield pd.DataFrame(out)

    prefix = f"{carry_schema}, " if carry_schema else ""
    pruned = window_filter(blocks, xoff, yoff, xsize, ysize)
    return pruned.mapInPandas(
        run,
        schema=f"{prefix}dst_x int, dst_y int, xsize int, ysize int, values array<float>",
    )


def assemble_window(read_df: DataFrame, xsize: int, ysize: int) -> np.ndarray:
    """Driver-side assembly (test/export path only — R3's
    ``result[x0:, y0:] = chunk``)."""
    out = np.full((ysize, xsize), np.nan, dtype=np.float32)
    for r in read_df.collect():
        a = np.array(r["values"], dtype=np.float32).reshape(r["ysize"], r["xsize"])
        out[r["dst_y"] : r["dst_y"] + r["ysize"], r["dst_x"] : r["dst_x"] + r["xsize"]] = a
    return out


def block_mean(blocks: DataFrame) -> DataFrame:
    """A5: nan-aware mean via partial (per-block sum/count in the
    Arrow stage) + final (native agg) — the distributed restatement
    of benchmarks/read_gdal_parallel.py:44-50's weighted mean."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sums, cnts, bands = [], [], []
            for _, row in pdf.iterrows():
                arr = _samples(row)
                sums.append(np.nansum(arr))
                cnts.append(int(np.sum(~np.isnan(arr))))
                bands.append(row["band"])
            yield pd.DataFrame({"band": bands, "s": sums, "n": cnts})

    p = blocks.mapInPandas(partials, schema="band string, s double, n bigint")
    return p.groupBy("band").agg(
        (F.sum("s") / F.sum("n")).alias("mean"), F.sum("n").alias("n_valid")
    )


def _interp_indices(dst_px: np.ndarray, n_dst: int, n_src: int, method: str):
    """Sample positions of dst pixel centers ``dst_px`` in src space
    and the src index each reads from: (positions, base_idx).
    linear: floor clipped to n_src-2, samples base..base+1;
    nearest: rint clipped to n_src-1, samples base only."""
    pos = (dst_px + 0.5) * (n_src / n_dst) - 0.5
    if method == "nearest":
        return pos, np.clip(np.rint(pos).astype(int), 0, n_src - 1)
    return pos, np.clip(np.floor(pos).astype(int), 0, max(0, n_src - 2))


def _resample(pdf: pd.DataFrame, dst_x: np.ndarray, dst_y: np.ndarray,
              src_size: tuple[int, int], dst_size: tuple[int, int],
              method: str) -> np.ndarray:
    """The resampling kernel: float64 values at dst pixel columns
    ``dst_x`` × rows ``dst_y`` from the block rows ``pdf`` that cover
    the src footprint — only that footprint is assembled."""
    xs, xi = _interp_indices(dst_x, dst_size[0], src_size[0], method)
    ys, yi = _interp_indices(dst_y, dst_size[1], src_size[1], method)
    extra = 0 if method == "nearest" else 1
    x_lo, y_lo = int(xi.min()), int(yi.min())
    # halo-slack rows that miss the footprint clip away here
    local = _window(pdf, x_lo, y_lo, int(xi.max()) + extra + 1, int(yi.max()) + extra + 1)
    x0, y0 = xi - x_lo, yi - y_lo
    if method == "nearest":
        return local[y0][:, x0]
    wy = (ys - yi)[:, None]
    wx = (xs - xi)[None, :]
    a = local[y0][:, x0]
    b = local[y0][:, x0 + 1]
    c = local[y0 + 1][:, x0]
    d = local[y0 + 1][:, x0 + 1]
    return a * (1 - wy) * (1 - wx) + b * (1 - wy) * wx + c * wy * (1 - wx) + d * wy * wx


def _check_method(method: str) -> None:
    if method not in ("linear", "nearest"):
        raise NotImplementedError(
            f"interpolation method {method!r} ('linear' and 'nearest' only)"
        )


def combine_blocks(
    ref: DataFrame,
    others: list[DataFrame],
    ref_size: tuple[int, int],
    src_sizes: list[tuple[int, int]],
    method: str | list[str] | None = None,
    dst_block: int = 256,
    out_dtype: str = "float32",
) -> DataFrame:
    """``Dataset.combine`` (reference dataset.py:923-965): align every
    input raster onto the REFERENCE grid by interpolation and stack
    them as bands 1..N (reference first) — xr.concat(dim='band')
    restated as a union of regridded block tables with the band
    coordinate reassigned.

    ``method`` mirrors the reference's contract: a single string or a
    per-input list — 'linear' (bilinear, the reference's default) or
    'nearest'; a length mismatch raises, like the reference.  The
    reference passes through unresampled: the identity regrid (src
    grid == dst grid) is exact under either method — pixel centers
    map onto themselves — so one code path serves all bands."""
    if method is None:
        method = ["linear"] * len(others)
    elif isinstance(method, str):
        method = [method] * len(others)
    elif isinstance(method, (list, tuple)):
        if len(method) != len(others):
            raise ValueError("Length of method list must match number of inputs.")
    else:
        raise TypeError("method must be a string or a list/tuple of strings.")
    for m in method:
        _check_method(m)
    if len(others) != len(src_sizes):
        raise ValueError("src_sizes must match others")

    # the reference regrids only the non-reference inputs; the ref
    # band itself is the identity regrid (exact under either method)
    methods = ["linear"] + list(method)
    stacked = []
    for i, (bl, size) in enumerate([(ref, ref_size)] + list(zip(others, src_sizes))):
        rg = regrid_bilinear_blocks(bl, size, ref_size, dst_block, out_dtype,
                                    method=methods[i])
        stacked.append(rg.withColumn("band", F.lit(str(i + 1))))
    out = stacked[0]
    for s in stacked[1:]:
        out = out.unionByName(s)
    return out


def regrid_bilinear_blocks(
    blocks: DataFrame,
    src_size: tuple[int, int],
    dst_size: tuple[int, int],
    dst_block: int = 256,
    out_dtype: str = "float32",
    method: str = "linear",
) -> DataFrame:
    """J4/R9: bilinear (or nearest) regrid of a blocks raster onto a
    new grid via HALO EXCHANGE (reference ``Dataset.combine``/
    grid-align and per-tile warp semantics, dataset.py:516-541,
    922-965):

      1. each src block computes (pure Columns) the conservative
         range of DST BLOCKS its pixels can contribute to under the
         bilinear footprint, and explodes to one row per dst block —
         the halo: border src blocks land in several dst groups;
      2. ``groupBy(band, dst_bx, dst_by).applyInPandas`` assembles
         only the needed src sub-window per group and interpolates
         that dst block in numpy.

    Group state is bounded by dst_block²·(scale factor) + halo —
    independent of mosaic size, so a 10⁶×10⁶ mosaic regrids with the
    same per-executor memory as one tile; a ``dst_block`` covering
    the whole dst grid is the single-group (per-tile) regrid.
    Output: one row per dst block with ``values`` (row-major).  The
    interpolation (``_resample``) maps dst pixel centers into src
    space, clamps the base index to sw-2 and weights from the
    clipped index.

    ``out_dtype='float64'`` keeps full precision (used by the
    oracle-paired driver query); float32 is the raster-convention
    default at scale.  ``method='nearest'`` samples the nearest src
    pixel center instead (the halo Column math is unchanged — the
    nearest footprint is a subset of the bilinear one, and unneeded
    halo blocks drop in the group step)."""
    _check_method(method)
    sw, sh = src_size
    dw, dh = dst_size
    bpx = dst_block

    def dst_px_range(off: F.Column, size: F.Column, scale: float, dst_n: int):
        lo = F.greatest(F.lit(0), F.floor((off - 1.5) / scale - 0.5).cast("int"))
        hi = F.least(
            F.lit(dst_n - 1),
            F.ceil((off + size + 1.5) / scale - 0.5).cast("int"),
        )
        return lo, hi

    x_lo, x_hi = dst_px_range(F.col("xoff"), F.col("xsize"), sw / dw, dw)
    y_lo, y_hi = dst_px_range(F.col("yoff"), F.col("ysize"), sh / dh, dh)
    exploded = (
        blocks.withColumn(
            "dst_bx",
            F.explode(F.sequence((x_lo / bpx).cast("int"), (x_hi / bpx).cast("int"))),
        )
        .withColumn(
            "dst_by",
            F.explode(F.sequence((y_lo / bpx).cast("int"), (y_hi / bpx).cast("int"))),
        )
    )

    np_dtype = np.float64 if out_dtype == "float64" else np.float32

    def per_dst_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        band, bx, by = key
        x0_px, x1_px = bx * bpx, min(dw, bx * bpx + bpx) - 1
        y0_px, y1_px = by * bpx, min(dh, by * bpx + bpx) - 1
        out = _resample(pdf, np.arange(x0_px, x1_px + 1), np.arange(y0_px, y1_px + 1),
                        src_size, dst_size, method)
        return pd.DataFrame(
            {
                "band": [band],
                "dst_bx": [int(bx)],
                "dst_by": [int(by)],
                "xoff": [x0_px],
                "yoff": [y0_px],
                "xsize": [x1_px - x0_px + 1],
                "ysize": [y1_px - y0_px + 1],
                "values": [out.astype(np_dtype).ravel().tolist()],
            }
        )

    arr_type = "array<double>" if out_dtype == "float64" else "array<float>"
    return exploded.groupBy("band", "dst_bx", "dst_by").applyInPandas(
        per_dst_block,
        schema=(
            "band string, dst_bx int, dst_by int, xoff int, yoff int, "
            f"xsize int, ysize int, values {arr_type}"
        ),
    )
