"""Vectorized geometry: haversine, ray-cast point-in-polygon, bboxes,
and the pixel-centre polygon mask the raster operators burn and
aggregate with.

Pure numpy; used identically by single-node test oracles and by the
pandas UDFs in functions/udfs.py.  Reference analogs:
bbox-intersection predicate /root/reference/earth_data_kit/stitching/
utilities/geo.py:160-163 and classes/tile.py:119-180 (P1 in
SURVEY.md §2.2); the reference has no PIP/kNN — those come from the
north_rule.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371000.0  # mean sphere radius; mirrored in SQL oracles
METERS_PER_DEGREE = 111320.0  # reference quirk F7: dataset.py:400-419


def haversine_m(lat1, lon1, lat2, lon2):
    """Great-circle distance in meters (vectorized, float64).

    2R·asin(√(sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2))) — the same
    expression, term for term, as the SQL mirror in
    functions/columns.py so oracle comparisons agree to rounding.
    """
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lat1, lon1, lat2, lon2))
    a = (
        np.sin((lat2 - lat1) / 2.0) ** 2
        + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2.0) ** 2
    )
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def bbox_intersects(axmin, aymin, axmax, aymax, bxmin, bymin, bxmax, bymax):
    """Vectorized interval-overlap test (SURVEY.md P1 Spark mapping)."""
    return (
        (np.asarray(axmin) <= np.asarray(bxmax))
        & (np.asarray(axmax) >= np.asarray(bxmin))
        & (np.asarray(aymin) <= np.asarray(bymax))
        & (np.asarray(aymax) >= np.asarray(bymin))
    )


def point_in_ring(lons, lats, ring: np.ndarray):
    """Even-odd ray-cast PIP for many points against one ring.

    ``ring`` is an (n, 2) array of (lon, lat) vertices, closed or
    open (the closing edge is implied).  Points exactly on an edge
    are not guaranteed either way; fixtures avoid boundaries.
    Vectorized over points: O(edges) passes over all points at once.
    """
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    inside = np.zeros(lons.shape, dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        # does the horizontal ray to +inf cross edge (p1, p2)?
        cond = (y1 > lats) != (y2 > lats)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (lats - y1) / (y2 - y1) + x1
        inside ^= cond & (lons < xint)
    return inside


def point_in_polygon(lons, lats, shell: np.ndarray, holes: list[np.ndarray] | None = None):
    """PIP with holes: inside shell and not inside any hole."""
    inside = point_in_ring(lons, lats, shell)
    for h in holes or []:
        inside &= ~point_in_ring(lons, lats, h)
    return inside


def pixel_mask(xs, ys, wkt, bbox, cache: dict) -> np.ndarray:
    """(len(ys), len(xs)) mask of the pixel centres ``xs`` × ``ys``
    inside one polygon: a closed-bbox rectangle when ``wkt`` is not a
    string (None/NaN), else the even-odd ray-cast of the WKT, parsed
    once per distinct string into ``cache``."""
    if not isinstance(wkt, str):
        xmin, ymin, xmax, ymax = bbox
        xm = (xs >= xmin) & (xs <= xmax)
        ym = (ys >= ymin) & (ys <= ymax)
        return ym[:, None] & xm[None, :]
    if wkt not in cache:
        cache[wkt] = parse_wkt_polygon(wkt)
    shell, holes = cache[wkt]
    lon, lat = np.meshgrid(xs, ys)
    return point_in_polygon(lon.ravel(), lat.ravel(), shell, holes).reshape(lon.shape)


def parse_wkt_polygon(wkt: str) -> tuple[np.ndarray, list[np.ndarray]]:
    """Minimal WKT POLYGON parser → (shell, holes) as (n,2) arrays.

    Supports ``POLYGON ((x y, ...), (x y, ...))`` only — all the
    fixture polygons.  Not a general WKT reader.
    """
    body = wkt.strip()
    upper = body.upper()
    if not upper.startswith("POLYGON"):
        raise ValueError(f"not a WKT POLYGON: {wkt[:40]}")
    body = body[body.index("(") + 1 : body.rindex(")")]
    rings = []
    depth = 0
    start = None
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
            if depth == 1:
                start = i + 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                pts = [
                    tuple(float(v) for v in pair.split()[:2])
                    for pair in body[start:i].split(",")
                    if pair.strip()
                ]
                rings.append(np.array(pts, dtype=np.float64))
    if not rings:
        raise ValueError(f"empty polygon: {wkt[:40]}")
    return rings[0], rings[1:]


def polygon_bbox(shell: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(shell[:, 0].min()),
        float(shell[:, 1].min()),
        float(shell[:, 0].max()),
        float(shell[:, 1].max()),
    )
