"""COG as a DISTRIBUTED source: tile index → pruned decode → blocks.

The reverse of ``operators/gtiff.export_cog``: a tiled GeoTIFF comes
back into the engine as the standard blocks schema
(operators/blocks.py), so every block operator — windowed read,
block_mean, regrid, re-export — runs directly over a COG file.
Reference analog: the GDAL-backed block read pipeline
(xarray_boosted/entrypoint.py:95-133 reads block windows per task);
here the two stages are explicit and Spark-native:

1. ``cog_tile_index`` — ONE driver-side parse of the header-resident
   IFD chain (KBs; over object storage a single small GET) → a tiny
   DataFrame of tile descriptors (band, tile coords, pixel window,
   byte range).  Pure metadata: window predicates on
   ``xoff/yoff/xsize/ysize`` prune TILES in Catalyst before any tile
   byte is touched — the same prune-then-decode shape as
   ``blocks.window_filter``.
2. ``cog_decode_blocks`` — Arrow ``mapInPandas`` over the surviving
   descriptors: each task reads its tiles' byte ranges (ranged GETs
   at scale; local seeks here) and decodes with the gtiff codec path
   (DEFLATE/LZW/JPEG + predictor), emitting blocks-schema rows with
   payloads clipped to the true edge-tile size.

Scale posture: the index is O(tiles) rows of metadata (a 100 TB COG
mosaic set is many files — one index per file, unioned); decode
parallelism = surviving tiles; no shuffle anywhere — both stages are
map-only, and the expensive stage starts only after pruning.
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earth_data_kit_spark.operators.gtiff import _DTYPES, TAG_NODATA, _layout

INDEX_SCHEMA = (
    "path string, band int, tx int, ty int, xoff int, yoff int, "
    "xsize int, ysize int, tile_w int, tile_h int, "
    "byte_offset bigint, byte_count bigint, "
    "dtype string, nodataval double, compression int, predictor int, bits int"
)


def cog_tile_index(spark: SparkSession, path: str, level: int = 0) -> DataFrame:
    """Tile descriptors for one IFD of a COG — metadata only, no tile
    bytes touched.  Columns per INDEX_SCHEMA; filter on the pixel
    window columns, then feed the survivors to
    ``cog_decode_blocks``."""
    lay = _layout(Path(path).read_bytes(), level)  # tile data unused here
    nod = lay.tags.get(TAG_NODATA)
    nodata = float(nod.rstrip(b"\x00")) if nod else None
    tw, th = lay.tile_w, lay.tile_h
    rows = [
        (path, band, tx, ty, tx * tw, ty * th,
         min(tw, lay.width - tx * tw), min(th, lay.height - ty * th), tw, th,
         off, cnt, lay.dtype, nodata, lay.comp, lay.predictor, _DTYPES[lay.dtype][0])
        for band, tx, ty, off, cnt in lay.tiles(0, 0, lay.width, lay.height)
    ]
    return spark.createDataFrame(rows, INDEX_SCHEMA)


def cog_decode_blocks(index: DataFrame) -> DataFrame:
    """Decode surviving tile descriptors into the standard blocks
    schema.  Map-only Arrow stage: each task reads ONLY its tiles'
    byte ranges and runs the gtiff codec path; edge tiles are clipped
    to their true pixel size before payload encode, so downstream
    block math sees exactly the raster extent."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from earth_data_kit_spark.operators.gtiff import _decode_tile

        handles: dict[str, bytes] = {}
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                if r["path"] not in handles:
                    handles[r["path"]] = Path(r["path"]).read_bytes()
                off = int(r["byte_offset"])
                tile = _decode_tile(
                    handles[r["path"]][off : off + int(r["byte_count"])],
                    (int(r["tile_h"]), int(r["tile_w"])), _DTYPES[r["dtype"]][2],
                    int(r["compression"]), int(r["predictor"]),
                )
                clip = tile[: int(r["ysize"]), : int(r["xsize"])]
                out.append(
                    {
                        "tile_name": r["path"],
                        "band": f"B{int(r['band']) + 1}",
                        "block_x": int(r["tx"]),
                        "block_y": int(r["ty"]),
                        "xoff": int(r["xoff"]),
                        "yoff": int(r["yoff"]),
                        "xsize": int(r["xsize"]),
                        "ysize": int(r["ysize"]),
                        "dtype": r["dtype"],
                        "nodataval": r["nodataval"],
                        "scale": 1.0,
                        "offset": 0.0,
                        "payload": np.ascontiguousarray(clip).tobytes(),
                    }
                )
            yield pd.DataFrame(out)

    from earth_data_kit_spark.operators.blocks import BLOCK_SCHEMA

    return index.mapInPandas(decode, schema=BLOCK_SCHEMA)


def cog_scan(
    spark: SparkSession,
    path: str,
    level: int = 0,
    window: tuple[int, int, int, int] | None = None,
) -> DataFrame:
    """One-call form: index → (optional window prune on metadata) →
    decode.  ``window=(xoff, yoff, xsize, ysize)`` keeps only tiles
    intersecting the window — the prune runs in Catalyst on the tiny
    index before any tile byte is read."""
    idx = cog_tile_index(spark, path, level)
    if window is not None:
        xo, yo, xs, ys = window
        idx = idx.where(
            (F.col("xoff") < xo + xs)
            & (F.col("xoff") + F.col("xsize") > xo)
            & (F.col("yoff") < yo + ys)
            & (F.col("yoff") + F.col("ysize") > yo)
        )
    return cog_decode_blocks(idx)
