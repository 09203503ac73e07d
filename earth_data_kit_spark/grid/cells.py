"""Hierarchical discrete global grid cells (H3/S2-role schemes).

The sandbox has no ``h3``/``s2`` libraries, so we implement two
deterministic cell schemes behind the same interface (SURVEY.md §7.3:
fixtures are written against the interface, not a library):

* ``quadgrid`` (H3 role): an equirectangular lat/lon quadtree.  At
  resolution ``r`` the world is a grid of ``2^(r+1) × 2^r`` cells
  (lon spans 360°, lat spans 180°, so cells are "square" in degrees).
  Cell ids are 63-bit ints: ``r<<58 | x<<29 | y``.  Crucially the id
  is *pure integer/float arithmetic* — the same formula is expressible
  in Spark SQL and DuckDB SQL, which is what makes the driver's
  oracle comparison possible (see functions/columns.py).

* ``zorder`` (S2 role): same grid, but the id interleaves the x/y
  bits (Morton order) so that ids sort spatially and a parent cell is
  a 2-bit right shift — the hierarchical-prefix property S2 cell ids
  have.  Used for range-partition-friendly sort keys.

Neighbor semantics: x wraps around the antimeridian, y is clamped at
the poles (no wrap).  Cells are half-open ``[west, east) × (south,
north]`` so every point maps to exactly one cell; lon=180 and lat=-90
are clamped into the last cell.

Reference analog: the MODIS h/v grid that earth-data-kit expands
space templates over (/root/reference/earth_data_kit/stitching/
engines/s3.py:183-221) is a fixed-resolution instance of exactly this
kind of grid; ``grid_cell_of`` with the MODIS tile math is in
affine.py.
"""

from __future__ import annotations

import numpy as np

RES_MAX = 28  # x needs r+1 bits <= 29, y needs r bits <= 28
_X_SHIFT = 29
_RES_SHIFT = 58


def nx_ny(res: int) -> tuple[int, int]:
    """Grid dimensions at a resolution: (columns, rows)."""
    if not 0 <= res <= RES_MAX:
        raise ValueError(f"res must be in [0, {RES_MAX}], got {res}")
    return 2 << res, 1 << res


def cell_xy(lon, lat, res: int):
    """Vectorized (x, y) grid coordinates for lon/lat arrays.

    Uses the exact float expression ``floor((lon+180)/360*nx)`` so the
    SQL mirror in functions/columns.py produces bit-identical ints.
    """
    nx, ny = nx_ny(res)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.floor((lon + 180.0) / 360.0 * nx).astype(np.int64)
    y = np.floor((90.0 - lat) / 180.0 * ny).astype(np.int64)
    x = np.clip(x, 0, nx - 1)
    y = np.clip(y, 0, ny - 1)
    return x, y


def cell_id(lon, lat, res: int):
    """Vectorized quadgrid cell id (int64) for lon/lat arrays."""
    x, y = cell_xy(lon, lat, res)
    return (np.int64(res) << _RES_SHIFT) | (x << _X_SHIFT) | y


def cell_id_single(lon: float, lat: float, res: int) -> int:
    return int(cell_id(np.array([lon]), np.array([lat]), res)[0])


def decode(cid):
    """Vectorized (res, x, y) from quadgrid cell ids."""
    cid = np.asarray(cid, dtype=np.int64)
    res = cid >> _RES_SHIFT
    x = (cid >> _X_SHIFT) & ((1 << _RES_SHIFT - _X_SHIFT) - 1)
    y = cid & ((1 << _X_SHIFT) - 1)
    return res, x, y


def encode(res, x, y):
    return (np.int64(res) << _RES_SHIFT) | (np.asarray(x, dtype=np.int64) << _X_SHIFT) | np.asarray(y, dtype=np.int64)


def parent(cid, parent_res: int | None = None):
    """Vectorized parent cell id (default: one level up)."""
    res, x, y = decode(cid)
    res0 = int(np.min(res))
    pres = res0 - 1 if parent_res is None else parent_res
    if pres < 0:
        raise ValueError("no parent above res 0")
    shift = res - pres
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return encode(pres, x >> shift, y >> shift)


def children(cid: int) -> list[int]:
    """The 4 child cells one level down (single cell)."""
    res, x, y = decode(np.array([cid]))
    r, x, y = int(res[0]) + 1, int(x[0]) << 1, int(y[0]) << 1
    if r > RES_MAX:
        raise ValueError("no children below RES_MAX")
    return [int(encode(r, x + dx, y + dy)) for dx in (0, 1) for dy in (0, 1)]


def cell_bounds(cid: int) -> tuple[float, float, float, float]:
    """(west, south, east, north) degrees of a cell."""
    res, x, y = decode(np.array([cid]))
    res, x, y = int(res[0]), int(x[0]), int(y[0])
    nx, ny = nx_ny(res)
    west = x / nx * 360.0 - 180.0
    east = (x + 1) / nx * 360.0 - 180.0
    north = 90.0 - y / ny * 180.0
    south = 90.0 - (y + 1) / ny * 180.0
    return west, south, east, north


def cell_centroid(cid):
    """Vectorized (lon, lat) centers of cell ids."""
    res, x, y = decode(cid)
    nx = np.int64(2) << res
    ny = np.int64(1) << res
    lon = (x + 0.5) / nx * 360.0 - 180.0
    lat = 90.0 - (y + 0.5) / ny * 180.0
    return lon, lat


def k_ring(cid: int, k: int) -> list[int]:
    """All cells within Chebyshev distance k (incl. self).

    x wraps at the antimeridian; y rows beyond the poles are dropped.
    Analog of H3 ``grid_disk`` — used by the kNN candidate expansion
    (SURVEY.md §2.3 "kNN ... explode k-ring").
    """
    res, x, y = decode(np.array([cid]))
    res, x, y = int(res[0]), int(x[0]), int(y[0])
    nx, ny = nx_ny(res)
    # when the ring spans the full longitude circle, every column
    # appears exactly once (no duplicate cells from modulo wrap)
    if 2 * k + 1 >= nx:
        dxs = range(nx)
        x = 0
    else:
        dxs = range(-k, k + 1)
    out = []
    for dy in range(-k, k + 1):
        yy = y + dy
        if yy < 0 or yy >= ny:
            continue
        for dx in dxs:
            xx = (x + dx) % nx
            out.append(int(encode(res, xx, yy)))
    return out


def covering_bbox(xmin: float, ymin: float, xmax: float, ymax: float, res: int) -> list[int]:
    """Cells intersecting a lon/lat bbox (superset covering).

    Handles antimeridian-crossing boxes (xmin > xmax).  The oracle of
    the spatial join's in-plan cell prefilter (SURVEY.md §2.3 J1,
    ``operators.polygons.covering_cells_df``).
    """
    nx, ny = nx_ny(res)
    x0, y1 = (int(v[0]) for v in cell_xy(np.array([xmin]), np.array([ymin]), res))
    x1, y0 = (int(v[0]) for v in cell_xy(np.array([xmax]), np.array([ymax]), res))
    if xmin <= xmax:
        xs = range(x0, x1 + 1)
    else:  # antimeridian wrap
        xs = list(range(x0, nx)) + list(range(0, x1 + 1))
    return [int(encode(res, x, y)) for y in range(y0, y1 + 1) for x in xs]


# ---------------------------------------------------------------- zorder

def _part1by1(v):
    """Spread 32-bit ints so bits occupy even positions (vectorized)."""
    v = np.asarray(v, dtype=np.uint64)
    v &= np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _unpart1by1(v):
    v = np.asarray(v, dtype=np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def zorder_id(lon, lat, res: int):
    """S2-role Morton cell id: ``r<<58 | interleave(x, y)``.

    Ids at one resolution sort along a Z space-filling curve, and
    ``zorder_parent`` is a 2-bit shift — the hierarchical-prefix
    property used for range partitioning / locality-preserving sorts.
    """
    if res > RES_MAX:
        raise ValueError("res too deep for 58-bit morton")
    x, y = cell_xy(lon, lat, res)
    m = (_part1by1(x) << np.uint64(1)) | _part1by1(y)
    return (np.int64(res) << _RES_SHIFT) | m.astype(np.int64)


def zorder_parent(zid, levels: int = 1):
    zid = np.asarray(zid, dtype=np.int64)
    res = zid >> _RES_SHIFT
    m = zid & ((np.int64(1) << _RES_SHIFT) - 1)
    return ((res - levels) << _RES_SHIFT) | (m >> np.int64(2 * levels))


def zorder_decode(zid):
    zid = np.asarray(zid, dtype=np.int64)
    res = zid >> _RES_SHIFT
    m = (zid & ((np.int64(1) << _RES_SHIFT) - 1)).astype(np.uint64)
    x = _unpart1by1(m >> np.uint64(1)).astype(np.int64)
    y = _unpart1by1(m).astype(np.int64)
    return res, x, y
