"""Earth-Engine-style source scan with attribute-filter pushdown (S6).

Reference behavior (/root/reference/earth_data_kit/stitching/engines/
earth_engine.py:22-56): open an EEDA asset layer, push a bbox rect
spatial filter plus an attribute filter
``startTime >= start AND endTime <= end - 1s`` into the layer walk
(OGR ``SetAttributeFilter``), and emit rows
``[gdal_path, engine_path, date, tile_name]`` where date = startTime
normalized to UTC and tile_name = the last path segment of gdal_path.

Sandbox restatement (same contract as sources/stac.py): the asset
layer is a local static catalog; the pushdown applies the identical
predicates while walking asset METADATA, before any DataFrame or
asset access exists.  The EE shape differs from STAC in exactly the
ways the reference does: assets carry an INTERVAL (startTime/endTime)
instead of a single datetime, the time filter is start-inclusive /
end-EXCLUSIVE (the reference subtracts one second from the end), and
the emitted date is the asset's startTime.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession

from earth_data_kit_spark.grid import geom
from earth_data_kit_spark.sources.stac import _naive_utc, _parse_dt

EE_ITEM_COLUMNS = "gdal_path string, engine_path string, date timestamp, tile_name string"


def search_assets(
    catalog: dict,
    source: str,
    start: str | None = None,
    end: str | None = None,
    bbox: tuple[float, float, float, float] | None = None,
) -> tuple[list[dict], int]:
    """The pushdown: walk asset metadata for ``source`` and prune by
    the reference's attribute filter — ``startTime >= start AND
    endTime <= end - 1s`` (end exclusive) — plus bbox intersection.
    Returns (kept assets, total assets) so callers can assert
    pruning happened before any listing."""
    layers = {l["id"]: l for l in catalog.get("layers", [])}
    if source not in layers:
        raise ValueError(f"asset layer {source!r} not in catalog")
    assets = layers[source].get("assets", [])
    t0 = _parse_dt(start) if start else None
    t1 = _parse_dt(end) - timedelta(seconds=1) if end else None
    kept = []
    for a in assets:
        if t0 is not None and _parse_dt(a["startTime"]) < t0:
            continue
        if t1 is not None and _parse_dt(a["endTime"]) > t1:
            continue
        if bbox is not None and not geom.bbox_intersects(*a["bbox"], *bbox):
            continue
        kept.append(a)
    return kept, len(assets)


def scan(
    spark: SparkSession,
    source: str,
    catalog: dict,
    start: str | None = None,
    end: str | None = None,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Reference ``EarthEngine.scan`` analog: emit the standard rows
    with the time/bbox predicates already pushed into the layer walk.
    date = startTime as naive UTC; tile_name = basename(gdal_path)."""
    kept, _total = search_assets(catalog, source, start, end, bbox)
    rows = [
        (
            a["gdal_dataset"],
            a["id"],
            _naive_utc(a["startTime"]),
            a["gdal_dataset"].rsplit("/", 1)[-1],
        )
        for a in kept
    ]
    return spark.createDataFrame(rows, EE_ITEM_COLUMNS)


def synth_catalog() -> dict:
    """Deterministic EEDA-like asset layer fixture: 5 grid cells × 3
    days, each asset a one-day [startTime, endTime) interval — shared
    by tests and the oracle-paired driver gate."""
    from earth_data_kit_spark.sources.stac import GRID_CELLS, SYNTH_DAYS

    next_day = {
        "2017-01-01": "2017-01-02",
        "2017-01-02": "2017-01-03",
        "2017-01-03": "2017-01-04",
    }
    assets = [
        {
            "id": f"projects/ee/assets/modis/h{h}v{v}_{day}",
            "gdal_dataset": f"EEDAI:modis/{h}/{v}/{day}/t_h{h}v{v}.tif",
            "startTime": f"{day}T00:00:00Z",
            "endTime": f"{next_day[day]}T00:00:00Z",
            "bbox": [xmin, ymin, xmax, ymax],
        }
        for day in SYNTH_DAYS
        for h, v, xmin, ymin, xmax, ymax in GRID_CELLS
    ]
    return {"layers": [{"id": "modis-ee", "assets": assets}]}
