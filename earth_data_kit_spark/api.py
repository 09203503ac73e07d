"""User-facing ``Dataset`` façade — the reference's public API verbs
(/root/reference/earth_data_kit/stitching/classes/dataset.py:42-861)
mapped onto this engine's operators, so a reference user keeps their
workflow shape:

    reference                      →  here
    -------------------------------------------------------------
    Dataset(name, source, engine)  →  Dataset(name, source, engine)
    .set_timebounds(start, end)    →  same
    .set_spacebounds(bbox, grid)   →  same
    .discover()                    →  same (template expansion /
                                      STAC pushdown → listing; the
                                      metadata harvest is a pluggable
                                      ``metadata_fn`` since the
                                      sandbox has no GDAL)
    .get_bands()                   →  same (distinct band configs,
                                      round(6)+float32 quirk)
    .mosaic(bands)                 →  assignment TABLE (the VRT-XML
                                      replacement, golden-pinned) +
                                      clip windows when spacebounds
                                      are set
    .save(catalog)                 →  snapshot-versioned catalog
                                      write (time travel, rollback)
    .to_cog_template(...)          →  COG template + block layout

Everything returns DataFrames — the plan stays declarative end to
end, so Catalyst sees the whole discover→assign→clip pipeline.

The beyond-reference raster operators have no façade verb; call them
from their modules: ``blocks.windowed_read``,
``contour.contour_segments``, ``regions.region_label``,
``polygonize.polygonize``, ``focal.focal_map``,
``rasterize.rasterize``, ``zonal.zonal_stats`` (all under
``operators``), ``sources.cog.cog_scan`` and
``operators.gtiff.read_gtiff_window``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from earth_data_kit_spark.operators import assign, discover
from earth_data_kit_spark.sources import stac as stac_source
from earth_data_kit_spark.sources.catalog import Catalog


class Dataset:
    def __init__(self, name: str, source, engine: str = "s3") -> None:
        """``engine``: 's3' (strftime/{var} template source, ref
        engines/s3.py) or 'stac' ('<catalog>/collections/<id>' +
        a catalog document, ref engines/stac.py)."""
        if engine not in ("s3", "stac"):
            raise ValueError(f"unknown engine {engine!r} (expected 's3' or 'stac')")
        self.name = name
        self.source = source
        self.engine = engine
        self.start = self.end = None
        self.bbox = None
        self.grid_df: DataFrame | None = None
        self.grid_vars: list[str] | None = None
        self.stac_catalog = None

    # ------------------------------------------------ bounds (ref :126-183)

    def set_timebounds(self, start: str, end: str) -> "Dataset":
        self.start, self.end = start, end
        return self

    def set_spacebounds(
        self,
        bbox: tuple[float, float, float, float],
        grid_dataframe: DataFrame | None = None,
        matching_vars: list[str] | None = None,
    ) -> "Dataset":
        """bbox in EPSG:4326; ``grid_dataframe`` maps template {vars}
        to cell extents (the reference's grid-file semantics)."""
        self.bbox = bbox
        self.grid_df = grid_dataframe
        self.grid_vars = matching_vars
        return self

    # ------------------------------------------------ discover (ref :185-284)

    def discover(
        self,
        spark: SparkSession,
        lister: Callable[[DataFrame], DataFrame] | None = None,
    ) -> DataFrame:
        """Expand the source over the time/space bounds into the scan
        listing (engine_path/gdal_path/tile_name/date rows for stac;
        search_path/date rows for s3 templates).  ``lister`` turns
        search patterns into concrete keys (an S3 LIST in production;
        identity here — the sandbox has no object store)."""
        if self.engine == "stac":
            if self.stac_catalog is None:
                raise ValueError("stac engine needs .with_stac_catalog(doc_or_path)")
            return stac_source.scan(
                spark, self.source, self.stac_catalog,
                start=self.start, end=self.end, bbox=self.bbox,
            )
        if self.start is None or self.end is None:
            raise ValueError("set_timebounds() before discover()")
        patterns = discover.expand_time(spark, self.source, self.start, self.end)
        if self.grid_df is not None:
            if self.bbox is None:
                raise ValueError("grid_dataframe needs set_spacebounds(bbox=...)")
            patterns = discover.expand_space(
                patterns, self.grid_df, self.bbox,
                self.grid_vars or [c for c in self.grid_df.columns if not c.startswith(("min", "max"))],
            )
        return patterns if lister is None else lister(patterns)

    def with_stac_catalog(self, catalog) -> "Dataset":
        self.stac_catalog = catalog
        return self

    # ------------------------------------------------ bands / mosaic (:286-816)

    def get_bands(self, tiles: DataFrame) -> DataFrame:
        """Distinct band configurations over the harvested tile
        metadata (the reference's get_bands table, A2 quirks kept)."""
        return assign.band_configs(assign.explode_bands(tiles))

    def mosaic(self, tiles: DataFrame, bands: list[str]) -> DataFrame:
        """The assignment table that replaces VRT XML: per (date,
        band, tile) placement rects in the union mosaic (golden-pinned
        numbers).  Validates band-property consistency first, like the
        reference's __validate_band_properties__."""
        exploded = assign.filter_bands(assign.explode_bands(tiles), bands)
        assign.validate_band_properties(exploded)
        return assign.tile_assignments(exploded)

    def clip(self, assignments: DataFrame, transform) -> DataFrame:
        """Pixel clip windows of the spacebounds bbox against each
        band mosaic (gdal_translate projWin rounding)."""
        if self.bbox is None:
            raise ValueError("set_spacebounds() before clip()")
        return assign.clip_windows(assignments, self.bbox, transform)

    # ------------------------------------------------ save / export (:817-861)

    def save(self, catalog: Catalog, df: DataFrame, table: str | None = None) -> int:
        """Snapshot-versioned catalog commit (time travel + rollback —
        the Iceberg seam); returns the snapshot id."""
        return catalog.write(df, table or self.name)

    def combine(
        self,
        ref_blocks: DataFrame,
        others: list[DataFrame],
        ref_size: tuple[int, int],
        src_sizes: list[tuple[int, int]],
        method=None,
        dst_block: int = 256,
    ) -> DataFrame:
        """Reference ``Dataset.combine``: align every raster onto the
        reference grid (bilinear halo-exchange regrid) and stack as
        bands 1..N (reference first)."""
        from earth_data_kit_spark.operators.blocks import combine_blocks

        return combine_blocks(ref_blocks, others, ref_size, src_sizes, method, dst_block)

    def to_dataarray(
        self,
        blocks: DataFrame,
        n_times: int,
        bands: list[str],
        x_size: int,
        y_size: int,
    ):
        """Reference ``Dataset.to_dataarray()`` (xarray_boosted
        entrypoint, SURVEY §3.3): a lazy 4D (time, band, x, y) array
        over the blocks table with the backend's exact int-vs-slice
        squeeze semantics — ints on time/band squeeze, ints on x/y
        widen to size-1 slices and keep their axes.  ``blocks`` must
        carry ``t`` and ``band`` columns; indexing runs one Spark job
        (Column prune → Arrow decode → window assembly)."""
        from earth_data_kit_spark.operators.dataarray import EDKDataArray

        return EDKDataArray(blocks, n_times, bands, x_size, y_size)

    def to_cog_template(
        self,
        spark: SparkSession,
        width: int,
        height: int,
        n_bands: int,
        chunk_x: int,
        chunk_y: int,
        x_first: float,
        x_last: float,
        y_first: float,
        y_last: float,
    ) -> tuple[dict, DataFrame]:
        """COG export template (×128 blocks, center-derived
        geotransform) + the distributed block-write layout."""
        from earth_data_kit_spark.operators import cog

        t = cog.cog_template(
            width, height, n_bands, chunk_x, chunk_y, x_first, x_last, y_first, y_last
        )
        return t, cog.cog_block_layout(spark, width, height, n_bands, chunk_x, chunk_y)

    def to_labeled_dataarray(
        self,
        blocks: DataFrame,
        times,
        bands: list[str],
        gt: tuple,
        x_size: int,
        y_size: int,
    ):
        """Reference xarray surface (entrypoint.py:240-307 coords +
        xarray .sel/.isel): labeled coordinates from the geotransform,
        nearest-label selection, inclusive label slices — natively,
        no xarray dependency (xr_adapter.py registers the real
        BackendEntrypoint where xarray exists)."""
        from earth_data_kit_spark.operators.dataarray import EDKLabeledArray

        return EDKLabeledArray.from_geotransform(
            blocks, times=times, bands=bands, gt=gt, x_size=x_size, y_size=y_size
        )

    def export_cog(
        self,
        blocks: DataFrame,
        path: str,
        width: int,
        height: int,
        tile: int = 256,
        gt: tuple = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
        compression: str | None = None,
        overviews: int = 0,
        jpeg_quality: int = 90,
    ) -> dict:
        """Physical COG write (reference edk_accessor.py:131-183 via
        GDAL; here the spec-built tiled GeoTIFF sink: per-tile
        DEFLATE/LZW/JPEG, factor-2 overview IFDs).  Single-writer
        fan-in per output file."""
        from earth_data_kit_spark.operators.gtiff import export_cog as _export

        return _export(
            blocks, path, width, height, tile=tile, gt=gt, compression=compression,
            overviews=overviews, jpeg_quality=jpeg_quality,
        )

    def plot(self, labeled_array, to_html_path: str | None = None, **kw):
        """Reference ``da.edk.plot()`` / folium overlay analog: one
        pruned window read → PNG bytes (and optionally a
        self-contained Leaflet overlay page)."""
        from earth_data_kit_spark import plot as _plot

        return _plot.plot(labeled_array, to_html_path=to_html_path, **kw)
