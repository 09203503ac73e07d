"""Coordinate transforms (no pyproj in sandbox — public formulas only).

Implements the projections the reference fixtures use:
* MODIS sinusoidal on the custom sphere R=6371007.181 (golden VRT SRS,
  /root/reference/tests/fixtures/goldens/s3-grid-file.tar);
* EPSG:3857 Web Mercator (gee-no-time-dim test warps to 3857 at 5 m,
  /root/reference/tests/stitching/earth_engine/test_no_time_dim.py);
* EPSG:4326 identity.

Reference analog: utilities/transform.py:8-87 transforms points one
by one through pyproj with pinned axis order (x=lon, y=lat); here the
same operation is a vectorized numpy batch (SURVEY.md F4).
"""

from __future__ import annotations

import numpy as np

MODIS_SPHERE_R = 6371007.181
WEB_MERCATOR_A = 6378137.0

SINUSOIDAL = "sinusoidal"
WEB_MERCATOR = "EPSG:3857"
LONLAT = "EPSG:4326"


def sinusoidal_forward(lon, lat, radius: float = MODIS_SPHERE_R):
    """lon/lat degrees → sinusoidal x/y meters (vectorized)."""
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    return radius * lon * np.cos(lat), radius * lat


def sinusoidal_inverse(x, y, radius: float = MODIS_SPHERE_R):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lat = y / radius
    with np.errstate(divide="ignore", invalid="ignore"):
        lon = np.where(np.abs(np.cos(lat)) > 1e-12, x / (radius * np.cos(lat)), 0.0)
    return np.degrees(lon), np.degrees(lat)


def mercator_forward(lon, lat, a: float = WEB_MERCATOR_A):
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    return a * lon, a * np.log(np.tan(np.pi / 4.0 + lat / 2.0))


def mercator_inverse(x, y, a: float = WEB_MERCATOR_A):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    return np.degrees(x / a), np.degrees(2.0 * np.arctan(np.exp(y / a)) - np.pi / 2.0)


# --- UTM / transverse Mercator on the WGS84 ellipsoid -------------------
# Krüger series in the third flattening n (Karney 2011, "Transverse
# Mercator with an accuracy of a few nanometers" — the standard public
# formulation, here truncated at n³ ≈ sub-mm over a UTM zone).

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996
_UTM_E0 = 500_000.0
_UTM_N0_SOUTH = 10_000_000.0

_N = _WGS84_F / (2.0 - _WGS84_F)
_A_BAR = _WGS84_A / (1.0 + _N) * (1.0 + _N**2 / 4.0 + _N**4 / 64.0)
_ALPHA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 5.0 * _N**3 / 16.0,
    13.0 * _N**2 / 48.0 - 3.0 * _N**3 / 5.0,
    61.0 * _N**3 / 240.0,
)
_BETA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 37.0 * _N**3 / 96.0,
    _N**2 / 48.0 + _N**3 / 15.0,
    17.0 * _N**3 / 480.0,
)
_DELTA = (
    2.0 * _N - 2.0 * _N**2 / 3.0 - 2.0 * _N**3,
    7.0 * _N**2 / 3.0 - 8.0 * _N**3 / 5.0,
    56.0 * _N**3 / 15.0,
)
_ECC = 2.0 * np.sqrt(_N) / (1.0 + _N)


def utm_central_meridian(zone: int) -> float:
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone must be 1-60, got {zone}")
    return -183.0 + 6.0 * zone


def utm_forward(lon, lat, zone: int, south: bool = False):
    """lon/lat degrees → UTM easting/northing meters (vectorized)."""
    lam = np.radians(np.asarray(lon, dtype=np.float64) - utm_central_meridian(zone))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - _ECC * np.arctanh(_ECC * sphi))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    xi_s, eta_s = xi.copy(), eta.copy()
    for j, a in enumerate(_ALPHA, start=1):
        xi_s = xi_s + a * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_s = eta_s + a * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    e = _UTM_E0 + _UTM_K0 * _A_BAR * eta_s
    n = (_UTM_N0_SOUTH if south else 0.0) + _UTM_K0 * _A_BAR * xi_s
    return e, n


def utm_inverse(e, n, zone: int, south: bool = False):
    """UTM easting/northing meters → lon/lat degrees (vectorized)."""
    xi = (np.asarray(n, dtype=np.float64) - (_UTM_N0_SOUTH if south else 0.0)) / (
        _UTM_K0 * _A_BAR
    )
    eta = (np.asarray(e, dtype=np.float64) - _UTM_E0) / (_UTM_K0 * _A_BAR)
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xi_p = xi_p - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p = eta_p - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
    phi = chi.copy()
    for j, d in enumerate(_DELTA, start=1):
        phi = phi + d * np.sin(2 * j * chi)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return np.degrees(lam) + utm_central_meridian(zone), np.degrees(phi)


def _parse_utm(crs: str) -> tuple[int, bool] | None:
    """EPSG:326xx (north) / EPSG:327xx (south) → (zone, south)."""
    if not crs.upper().startswith("EPSG:32"):
        return None
    code = crs.split(":", 1)[1]
    if len(code) == 5 and code[:3] in ("326", "327") and code[3:].isdigit():
        zone = int(code[3:])
        if 1 <= zone <= 60:
            return zone, code[:3] == "327"
    return None


_FORWARD = {
    SINUSOIDAL: sinusoidal_forward,
    WEB_MERCATOR: mercator_forward,
    LONLAT: lambda lon, lat: (np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)),
}
_INVERSE = {
    SINUSOIDAL: sinusoidal_inverse,
    WEB_MERCATOR: mercator_inverse,
    LONLAT: lambda x, y: (np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)),
}


def forward(crs: str, lon, lat):
    utm = _parse_utm(crs)
    if utm is not None:
        return utm_forward(lon, lat, utm[0], south=utm[1])
    try:
        return _FORWARD[crs](lon, lat)
    except KeyError:
        raise ValueError(
            f"unsupported CRS {crs!r} (have {sorted(_FORWARD)} + EPSG:326xx/327xx UTM)"
        ) from None


def inverse(crs: str, x, y):
    utm = _parse_utm(crs)
    if utm is not None:
        return utm_inverse(x, y, utm[0], south=utm[1])
    try:
        return _INVERSE[crs](x, y)
    except KeyError:
        raise ValueError(
            f"unsupported CRS {crs!r} (have {sorted(_INVERSE)} + EPSG:326xx/327xx UTM)"
        ) from None


def transform_bbox_from_lonlat(crs: str, xmin, ymin, xmax, ymax):
    """lon/lat bbox → 4-corner envelope in target CRS."""
    lon = np.array([xmin, xmax, xmin, xmax], dtype=np.float64)
    lat = np.array([ymin, ymin, ymax, ymax], dtype=np.float64)
    x, y = forward(crs, lon, lat)
    return float(x.min()), float(y.min()), float(x.max()), float(y.max())
