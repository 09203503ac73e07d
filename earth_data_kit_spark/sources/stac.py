"""STAC-style source scan with datetime+bbox pushdown (S6/S7).

Reference behavior (/root/reference/earth_data_kit/stitching/engines/
stac.py:18-91; earth_engine.py:22-56 is the same shape over EEDA):
``scan(source, time_opts, space_opts)`` parses the catalog URL into
(catalog, collection), pushes the datetime range and bbox INTO the
source search so items are pruned before any listing/download, and
emits rows ``[date, tile_name, engine_path, gdal_path]``.

Sandbox restatement: the catalog is a local static-STAC-like JSON
document (no network); the pushdown is the same contract — filters
are applied while walking the catalog's item metadata, BEFORE a
DataFrame (and therefore any Spark job or asset access) exists.  At
scale the catalog itself is data: ``items_df`` mirrors the item
metadata into a DataFrame whose datetime/bbox predicates Catalyst
pushes to the (parquet) catalog scan — tests/test_stac.py asserts
both paths return identical rows and that the parquet mirror shows
PushedFilters.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earth_data_kit_spark.grid import geom

ITEM_COLUMNS = "engine_path string, gdal_path string, tile_name string, date timestamp"


def parse_stac_url(source: str) -> tuple[str, str | None]:
    """Split '<catalog>/collections/<name>' (reference
    _parse_stac_url semantics: collection required for scans)."""
    s = source.rstrip("/")
    if "/collections/" in s:
        catalog, rest = s.split("/collections/", 1)
        return catalog, rest.split("/")[0]
    return s, None


def _parse_dt(v: str) -> datetime:
    dt = datetime.fromisoformat(v.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt


def _naive_utc(v: str) -> datetime:
    """Naive-UTC materialization for DataFrame rows: CONVERT to UTC
    before stripping tzinfo — a bare .replace(tzinfo=None) on an item
    with a non-Z offset (valid per STAC spec) would keep the local
    wall-clock and diverge from search_items' tz-aware filtering
    (ADVICE r2)."""
    return _parse_dt(v).astimezone(timezone.utc).replace(tzinfo=None)


def load_catalog(catalog: str | dict) -> dict:
    if isinstance(catalog, dict):
        return catalog
    with open(catalog) as f:
        return json.load(f)


def search_items(
    catalog: str | dict,
    collection: str,
    start: str | None = None,
    end: str | None = None,
    bbox: tuple[float, float, float, float] | None = None,
) -> tuple[list[dict], int]:
    """The pushdown: walk item METADATA and prune by [start, end]
    (inclusive, STAC two-ended range) and bbox intersection before
    anything is listed or fetched.  Returns (kept items, total items
    in the collection) so callers can report pruning."""
    doc = load_catalog(catalog)
    colls = {c["id"]: c for c in doc.get("collections", [])}
    if collection not in colls:
        raise ValueError(f"collection {collection!r} not in catalog")
    items = colls[collection].get("items", [])
    t0 = _parse_dt(start) if start else None
    t1 = _parse_dt(end) if end else None
    kept = []
    for it in items:
        dt = _parse_dt(it["datetime"])
        if t0 is not None and dt < t0:
            continue
        if t1 is not None and dt > t1:
            continue
        if bbox is not None and not geom.bbox_intersects(*it["bbox"], *bbox):
            continue
        kept.append(it)
    return kept, len(items)


def scan(
    spark: SparkSession,
    source: str,
    catalog: str | dict,
    start: str | None = None,
    end: str | None = None,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Reference ``STAC.scan`` analog: source = '<catalog-id>/
    collections/<name>'; returns the standard scan rows with filters
    already pushed into the catalog walk."""
    _, collection = parse_stac_url(source)
    if collection is None:
        raise ValueError(
            "Collection name is required for STAC scans — use "
            "'<catalog>/collections/<collection_id>'"
        )
    kept, _total = search_items(catalog, collection, start, end, bbox)
    rows = [
        (
            it["assets"]["data"]["href"],
            to_vsi(it["assets"]["data"]["href"]),
            it["id"],
            _naive_utc(it["datetime"]),
        )
        for it in kept
    ]
    return spark.createDataFrame(rows, ITEM_COLUMNS)


def items_df(spark: SparkSession, catalog: str | dict, collection: str) -> DataFrame:
    """The catalog's item metadata as a DataFrame — the scale path
    when the catalog is itself large: persist this as parquet and let
    Catalyst push the datetime/bbox predicates to the scan."""
    doc = load_catalog(catalog)
    colls = {c["id"]: c for c in doc.get("collections", [])}
    rows = [
        (
            it["id"],
            _naive_utc(it["datetime"]),
            float(it["bbox"][0]), float(it["bbox"][1]),
            float(it["bbox"][2]), float(it["bbox"][3]),
            it["assets"]["data"]["href"],
        )
        for it in colls[collection].get("items", [])
    ]
    return spark.createDataFrame(
        rows,
        "tile_name string, date timestamp, xmin double, ymin double, "
        "xmax double, ymax double, href string",
    )


def stac_transform_to_gdal(t: list[float]) -> tuple[float, ...]:
    """STAC proj:transform → GDAL geotransform (reference
    stac_asset.py:68-86): STAC row-major affine [a, b, x, d, e, y]
    (9-value homogeneous forms truncate to 6) reorders to GDAL
    (x, a, b, y, d, e)."""
    if len(t) == 9:
        t = t[:6]
    x_res, x_rot, x_ul, y_rot, y_res, y_ul = tuple(t)
    return (x_ul, x_res, x_rot, y_ul, y_rot, y_res)


ALLOWED_MEDIA_TYPES = ("image/jp2", "image/tiff")


def is_asset_allowed(roles, media_type: str | None) -> bool:
    """P6 asset admission predicate (stac_asset.py:121-130): the
    asset must carry roles and an allowed raster media type."""
    if roles is None:
        return False
    if media_type is None:
        return False
    return any(media_type.startswith(a) for a in ALLOWED_MEDIA_TYPES)


def to_vsi(url: str) -> str:
    """Engine path → GDAL virtual-filesystem path (stac_asset.py
    to_vsi): s3:// → /vsis3/, https:// → /vsicurl/."""
    if url.startswith("s3://"):
        return url.replace("s3://", "/vsis3/", 1)
    if url.startswith("https://"):
        return f"/vsicurl/{url}"
    raise ValueError(f"Unknown protocol in asset href: {url}")


def subdataset_varname(subdataset_path: str) -> str:
    """NetCDF subdataset id 'FORMAT:path:varname' → varname, stamped
    into the (single) band's description (reference netcdf.py:73-87
    subdataset expansion semantics; the explode itself is
    operators/assign.explode_bands)."""
    return subdataset_path.split(":")[2]


def expand_netcdf_subdatasets(df, subs_col: str = "subdatasets"):
    """The reference's recursive NetCDF walk as one explode (reference
    netcdf.py:66-91 ``process_row``: for each container file, emit a
    row PER SUBDATASET with the container's date/tile/engine-path
    carried through, the subdataset's own georeferencing, and the
    single band's description overwritten with the subdataset
    varname).

    Input rows carry the container columns plus ``subs_col``:
    array<struct<gdal_path, geo_transform, projection, x_size,
    y_size, crs, length_unit, bands>> — the per-subdataset metadata a
    GDAL walker lists (the listing is the I/O seam; this operator is
    the distributed expansion the reference runs in a driver-side
    ProcessPoolExecutor).  Output column order matches the
    reference's DataFrame (netcdf.py:43-58), and downstream
    composition is unchanged: assign.explode_bands consumes the
    stamped ``bands`` exactly like any other tile row."""
    from pyspark.sql import functions as F

    base = [c for c in df.columns if c != subs_col]
    out = df.select(*base, F.explode(F.col(subs_col)).alias("sd"))
    varname = F.split(F.col("sd.gdal_path"), ":").getItem(2)
    stamped = F.transform(
        F.col("sd.bands"), lambda b: b.withField("description", varname)
    )
    return out.select(
        *base,
        F.col("sd.gdal_path").alias("gdal_path"),
        F.col("sd.geo_transform").alias("geo_transform"),
        F.col("sd.projection").alias("projection"),
        F.col("sd.x_size").alias("x_size"),
        F.col("sd.y_size").alias("y_size"),
        F.col("sd.crs").alias("crs"),
        F.col("sd.length_unit").alias("length_unit"),
        stamped.alias("bands"),
    )


GRID_CELLS = [
    ("18", "04", -3.0, 39.99, 11.53, 50.0),
    ("19", "04", 11.54, 39.99, 26.08, 50.0),
    ("19", "05", 10.0, 29.99, 22.5, 40.0),
    ("20", "04", 26.0, 39.99, 43.0, 50.0),
    ("10", "10", -100.0, -20.0, -90.0, -10.0),
]
SYNTH_DAYS = ["2017-01-01", "2017-01-02", "2017-01-03"]


def synth_catalog() -> dict:
    """Deterministic MODIS-grid-like static catalog fixture (15 items
    = 5 grid cells × 3 days) shared by tests and the oracle-paired
    geo_stac_scan driver query."""
    items = [
        {
            "id": f"h{h}v{v}_{day}",
            "datetime": f"{day}T00:00:00Z",
            "bbox": [xmin, ymin, xmax, ymax],
            "assets": {
                "data": {"href": f"https://example-catalog/modis/{h}/{v}/{day}/tile.tif"}
            },
        }
        for day in SYNTH_DAYS
        for h, v, xmin, ymin, xmax, ymax in GRID_CELLS
    ]
    return {"collections": [{"id": "modis-grid", "items": items}]}


def filter_items_df(
    items: DataFrame,
    start: str | None = None,
    end: str | None = None,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """The same pruning predicates as search_items, as Columns (these
    are what reach PushedFilters on a parquet catalog mirror)."""
    out = items
    if start is not None:
        out = out.where(F.col("date") >= F.to_timestamp(F.lit(start.replace("Z", ""))))
    if end is not None:
        out = out.where(F.col("date") <= F.to_timestamp(F.lit(end.replace("Z", ""))))
    if bbox is not None:
        out = out.where(
            (F.col("xmin") <= bbox[2]) & (F.col("xmax") >= bbox[0])
            & (F.col("ymin") <= bbox[3]) & (F.col("ymax") >= bbox[1])
        )
    return out
