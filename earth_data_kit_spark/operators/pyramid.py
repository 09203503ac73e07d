"""Tile-pyramid rollup: hierarchical cell aggregates across zoom
levels (north_star: "raster-to-vector tile pyramid assignment").

The scalable shape: aggregate the data ONCE at the finest resolution,
then roll the *aggregates* up level by level (each level is built
from the previous level's output, which is |cells|-sized, not
|rows|-sized — the map-pyramid build every tile server uses).
Parent derivation is pure integer arithmetic on the quadgrid id
(grid/cells.py): for id = r·2⁵⁸ + x·2²⁹ + y,

    parent = (r−1)·2⁵⁸ + ⌊x/2⌋·2²⁹ + ⌊y/2⌋

so the whole pyramid stays in whole-stage codegen — no UDFs, and the
same formula runs in DuckDB for the oracle cross-check.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from earth_data_kit_spark.functions.columns import RES_SHIFT_MULT, X_SHIFT_MULT


def parent_cell_col(cell: Column) -> Column:
    """Parent quadgrid cell id, one resolution up (pure arithmetic)."""
    r = F.floor(cell / RES_SHIFT_MULT)
    x = F.floor(cell / X_SHIFT_MULT) % X_SHIFT_MULT
    y = cell % X_SHIFT_MULT
    return ((r - 1) * RES_SHIFT_MULT + F.floor(x / 2) * X_SHIFT_MULT + F.floor(y / 2)).cast("bigint")


def pyramid_rollup(
    df: DataFrame,
    cell_col: str,
    res: int,
    min_res: int,
    agg_cols: dict[str, Column] | None = None,
) -> DataFrame:
    """Aggregate per cell at ``res``, then roll up to ``min_res``.

    Output: (res, cell, n [, extra aggregates]) for every level in
    [min_res, res].  Extra aggregates must be reaggregatable sums —
    supply them as {name: sum_expression_over_base_rows}; levels
    above the base re-sum the sums.
    """
    aggs = {"n": F.count("*").cast("bigint"), **(agg_cols or {})}
    base = (
        df.groupBy(F.col(cell_col).alias("cell"))
        .agg(*[v.alias(k) for k, v in aggs.items()])
        .withColumn("res", F.lit(res).cast("bigint"))
    )
    levels = [base]
    cur = base
    for r in range(res - 1, min_res - 1, -1):
        cur = (
            cur.groupBy(parent_cell_col(F.col("cell")).alias("cell"))
            .agg(*[
                (F.sum(k).cast("bigint") if k == "n" else F.sum(k)).alias(k)
                for k in aggs
            ])
            .withColumn("res", F.lit(r).cast("bigint"))
        )
        levels.append(cur)
    out = reduce(lambda a, b: a.unionByName(b), levels)
    return out.select("res", "cell", *aggs.keys())

