"""Vectorized pandas/Arrow UDFs (the only Python that runs on
executors — input_hint: "no per-row Python" means no row-at-a-time
``F.udf``; every UDF here receives Arrow batches and loops in numpy
or tight C-backed code).

Each UDF wraps the identical pure function from grid/ or text/, so
the single-node oracle used by tests and the distributed run are the
same code path (per-row invariant, SURVEY.md §5.3-3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from earth_data_kit_spark.grid import cells, geom, s2
from earth_data_kit_spark.text import analysis
from earth_data_kit_spark.text.extract import extract_text
from earth_data_kit_spark.text.geocode import geocode


def s2_leaf_series(lat: np.ndarray, lon: np.ndarray) -> pd.Series:
    """S2 level-30 leaf ids of float64 (lat, lon) arrays as nullable
    int64 (bit reinterpretation of the uint64 id).  A NaN or ±Inf
    coordinate gives NULL, never a garbage cell id."""
    bad = ~np.isfinite(lat) | ~np.isfinite(lon)
    if bad.any():
        lat = np.where(bad, 0.0, lat)
        lon = np.where(bad, 0.0, lon)
    out = pd.Series(s2.to_spark_i64(s2.cell_from_latlng(lat, lon, s2.MAX_LEVEL)), dtype="Int64")
    out[bad] = pd.NA
    return out


def _extract_geocode(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """The geocode stage's one Python pass: html → text → geocode, plus
    the S2 level-30 leaf of the hit.  Text extraction, geocoding and the
    leaf share one Arrow round trip, so the html column crosses into
    Python once per row.  The extracted text stays in the worker (no
    caller reads it back).  The leaf is computed vectorized once per
    batch by ``s2_leaf_series``, the rule ``s2_leaf_udf`` also uses: a
    page without a geocode hit gets a NULL leaf.

    Registered non-deterministic (``extract_geocode_udf``): a
    deterministic Python projection lets the optimizer copy the UDF
    into a pushed-down ``lat IS NOT NULL`` filter, which evaluates it
    in a second Arrow node.  The flag pins it to one node; the results
    themselves are deterministic."""
    lats, lons, methods = [], [], []
    for b, u in zip(html, url):
        la, lo, m = geocode(u or "", extract_text(b) if b is not None else "")
        lats.append(la)
        lons.append(lo)
        methods.append(m)
    leaf = s2_leaf_series(np.array(lats, dtype=np.float64), np.array(lons, dtype=np.float64))
    return pd.DataFrame({"lat": lats, "lon": lons, "method": methods, "s2_leaf": leaf})


extract_geocode_udf = F.pandas_udf(
    _extract_geocode,
    T.StructType(
        [
            T.StructField("lat", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("method", T.StringType()),
            T.StructField("s2_leaf", T.LongType()),
        ]
    ),
).asNondeterministic()


def zorder_id_udf(res: int):
    @F.pandas_udf(T.LongType())
    def _z(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(cells.zorder_id(lon.values, lat.values, res))

    return _z


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ]
    )
)
def wkt_bbox_udf(wkt: pd.Series) -> pd.DataFrame:
    """Bbox of a WKT POLYGON shell — the in-plan polygon-table prep
    step of ``operators.polygons.normalize_polygons_df`` (O(polygons)
    Arrow-batched work; geometry never touches the driver)."""
    out = np.full((len(wkt), 4), np.nan, dtype=np.float64)
    cache: dict[str, tuple] = {}
    for i, w in enumerate(wkt.values):
        if w is None or (isinstance(w, float) and np.isnan(w)):
            continue
        bb = cache.get(w)
        if bb is None:
            shell, _ = geom.parse_wkt_polygon(w)
            bb = cache[w] = geom.polygon_bbox(shell)
        out[i] = bb
    return pd.DataFrame(out, columns=["xmin", "ymin", "xmax", "ymax"])


@F.pandas_udf(T.BooleanType())
def pip_refine_wkt_udf(lon: pd.Series, lat: pd.Series, wkt: pd.Series) -> pd.Series:
    """Exact ray-cast refine against a CARRIED ``wkt`` column — the
    only Python in ``pip_join``'s refine, for every cell scheme and
    for list and DataFrame polygon sides alike
    (``operators.polygons.refine_predicate_cols``).  Each distinct wkt
    in the Arrow batch is parsed once and its rows refined as one
    vectorized call.  Null wkt → False (rectangles are refined by
    pure Columns upstream)."""
    lons = lon.values.astype(np.float64)
    lats = lat.values.astype(np.float64)
    out = np.zeros(len(lons), dtype=bool)
    w = wkt.values
    nn = pd.notna(w)
    for s in pd.unique(w[nn]):
        shell, holes = geom.parse_wkt_polygon(s)
        m = nn & (w == s)
        out[m] = geom.point_in_polygon(lons[m], lats[m], shell, holes)
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def detect_lang_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: analysis.detect_lang(t or ""))


@F.pandas_udf(T.IntegerType())
def token_count_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: analysis.token_count(t or "")).astype("int32")


@F.pandas_udf(T.LongType())
def simhash64_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: analysis.simhash64(t or ""))


def minhash_sig_udf(num_perm: int = 64, k: int = 5):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(text: pd.Series) -> pd.Series:
        # multiply-shift minhash values are < 2^63, so they fit bigint
        return text.map(lambda t: analysis.minhash_signature(t or "", num_perm, k))

    return _sig


def minhash_bands_udf(bands: int = 16):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _bands(sig: pd.Series) -> pd.Series:
        return sig.map(lambda s: analysis.minhash_bands(list(s), bands))

    return _bands


def shingle_hashes_udf(k: int = 5):
    """Distinct 63-bit shingle hashes per document (for exact n-gram
    Jaccard via explode + SQL agg)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sh(text: pd.Series) -> pd.Series:
        return text.map(
            lambda t: sorted(
                {analysis._h64(s.encode("utf-8")) & 0x7FFFFFFFFFFFFFFF for s in analysis.shingles(t or "", k)}
            )
        )

    return _sh


@F.pandas_udf(T.DoubleType())
def overlay_area_udf(
    wkt_a: pd.Series,
    xmin_a: pd.Series,
    ymin_a: pd.Series,
    xmax_a: pd.Series,
    ymax_a: pd.Series,
    wkt_b: pd.Series,
    xmin_b: pd.Series,
    ymin_b: pd.Series,
    xmax_b: pd.Series,
    ymax_b: pd.Series,
) -> pd.Series:
    """Exact polygon∩polygon area for candidate pairs of
    ``operators.overlay.overlay_join`` (``grid.clip`` band-trapezoid
    S–H; planar degrees²).  A side with null ``wkt`` is its bbox
    rectangle.  Parsed rings AND per-distinct-pair areas are cached
    per Arrow batch — candidate generation repeats the same pair only
    across cells (deduped upstream), but repeats the same GEOMETRY
    once per partner, and parse cost dominates for vertex-heavy
    polygons.  Rect-rect pairs never reach this UDF (pure-Column
    fast path upstream)."""
    from earth_data_kit_spark.grid import clip as C

    n = len(wkt_a)
    out = np.zeros(n, dtype=np.float64)
    ring_cache: dict = {}
    pair_cache: dict = {}

    def _rings(w, x0, y0, x1, y1):
        key = w if w is not None else (x0, y0, x1, y1)
        got = ring_cache.get(key)
        if got is None:
            if w is not None:
                shell, holes = geom.parse_wkt_polygon(w)
            else:
                shell, holes = C.rect_ring(x0, y0, x1, y1), []
            got = ring_cache[key] = (shell, holes)
        return key, got

    wa, wb = wkt_a.values, wkt_b.values
    for i in range(n):
        a = wa[i] if isinstance(wa[i], str) else None
        b = wb[i] if isinstance(wb[i], str) else None
        ka, (sa, ha) = _rings(
            a, xmin_a.iat[i], ymin_a.iat[i], xmax_a.iat[i], ymax_a.iat[i]
        )
        kb, (sb, hb) = _rings(
            b, xmin_b.iat[i], ymin_b.iat[i], xmax_b.iat[i], ymax_b.iat[i]
        )
        area = pair_cache.get((ka, kb))
        if area is None:
            area = pair_cache[(ka, kb)] = C.polygon_intersection_area(
                sa, ha, sb, hb
            )
        out[i] = area
    return pd.Series(out)
