"""Dialect-neutral SQL fragments + Spark Column builders.

The driver's correctness gate runs our Spark queries against DuckDB
oracles; everything here is written once and valid in BOTH dialects
(only arithmetic, CASE, concat, floor, trig — no engine-specific
functions), so the Spark plan and the oracle share one source of
truth.  The numpy twins live in grid/cells.py and grid/geom.py and
compute the identical expressions (guarded by tests/test_cells.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from earth_data_kit_spark.grid.geom import EARTH_RADIUS_M

RES_SHIFT_MULT = 1 << 58  # quadgrid id = res*2^58 + x*2^29 + y
X_SHIFT_MULT = 1 << 29


def cell_id_sql(lon: str, lat: str, res: int) -> str:
    """Quadgrid cell id as a SQL expression (see grid/cells.py).

    Pure float/integer arithmetic → bit-identical across Spark SQL,
    DuckDB and numpy (IEEE-754 ops only, no transcendentals).
    """
    nx = 2 << res
    ny = 1 << res
    x = f"least(greatest(CAST(floor((({lon}) + 180.0) / 360.0 * {nx}) AS BIGINT), 0), {nx - 1})"
    y = f"least(greatest(CAST(floor((90.0 - ({lat})) / 180.0 * {ny}) AS BIGINT), 0), {ny - 1})"
    return f"(CAST({res} AS BIGINT) * {RES_SHIFT_MULT} + {x} * {X_SHIFT_MULT} + {y})"


def cell_x_sql(lon: str, res: int) -> str:
    nx = 2 << res
    return f"least(greatest(CAST(floor((({lon}) + 180.0) / 360.0 * {nx}) AS BIGINT), 0), {nx - 1})"


def cell_y_sql(lat: str, res: int) -> str:
    ny = 1 << res
    return f"least(greatest(CAST(floor((90.0 - ({lat})) / 180.0 * {ny}) AS BIGINT), 0), {ny - 1})"


def haversine_m_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle meters, mirroring grid/geom.py term for term.
    (Trig may differ by ulps across libms — consumers round before
    hash comparison.)"""
    return (
        f"(2.0 * {EARTH_RADIUS_M} * asin(sqrt(least(1.0, "
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2.0), 2.0) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2.0), 2.0)))))"
    )


def time_bucket_sql(ts_epoch_s: str, start_epoch_s: int, resolution_s: int) -> str:
    """EDK temporal bucketing (A1, engines/commons.py:37-54): bucket
    start anchored at the range start, half-open [t, t+res)."""
    return (
        f"({start_epoch_s} + CAST(floor((({ts_epoch_s}) - {start_epoch_s}) "
        f"/ {resolution_s}.0) AS BIGINT) * {resolution_s})"
    )


def cell_id_col(lon: Column, lat: Column, res: int) -> Column:
    """Spark Column twin of cell_id_sql (JVM-side, codegen'd)."""
    nx = 2 << res
    ny = 1 << res
    x = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / 360.0 * nx).cast("bigint"), F.lit(0)),
        F.lit(nx - 1),
    )
    y = F.least(
        F.greatest(F.floor((F.lit(90.0) - lat) / 180.0 * ny).cast("bigint"), F.lit(0)),
        F.lit(ny - 1),
    )
    return (F.lit(res).cast("bigint") * RES_SHIFT_MULT + x * X_SHIFT_MULT + y).alias("cell")


def haversine_m_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Spark Column twin of haversine_m_sql — stays in codegen."""
    a = (
        F.pow(F.sin(F.radians(lat2 - lat1) / 2.0), 2.0)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(F.radians(lon2 - lon1) / 2.0), 2.0)
    )
    return 2.0 * EARTH_RADIUS_M * F.asin(F.sqrt(F.least(F.lit(1.0), a)))


def salt_col(key: Column, buckets: int) -> Column:
    """Deterministic salt from the reference's cheap-md5 idiom (F10,
    utilities/helpers.py:111-112): first 6 hex chars of md5 → int %
    buckets.  Used to split hot cells (SURVEY.md §4 skew row)."""
    return (F.conv(F.substring(F.md5(key.cast("string")), 1, 6), 16, 10).cast("bigint") % buckets)
