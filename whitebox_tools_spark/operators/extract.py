"""ExtractRasterValuesAtPoints (class PIP/lookup) — a pure equi-join.

Reference: /root/reference/whitebox-tools-app/src/tools/gis_analysis/
extract_raster_values_at_points.rs:135-265 — for each point,
row = get_row_from_y(y), col = get_column_from_x(x) (floor formulas,
whitebox-raster/src/lib.rs:743-749), value = raster[row, col]; out-of-grid
points get nodata and are NOT dropped (:252-265).

Spark plan: withColumn floor exprs (codegen) + LEFT broadcast/shuffle join on
(row, col) + coalesce(nodata). No geometry math; scales as a plain join —
the raster side can be broadcast when small or co-partitioned by (row, col)
when huge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import GridSpec


def extract_raster_values_at_points(
    points: DataFrame,
    cells: DataFrame,
    grid: GridSpec,
    *,
    x: str = "x",
    y: str = "y",
    value: str = "value",
    out_col: str = "value1",
    broadcast_cells: bool = True,
) -> DataFrame:
    """points + (row, col, value) cells -> points with `out_col` appended
    (nodata where the point misses the grid or lands on a nodata cell)."""
    c = cells.select(
        F.col("row").cast("long").alias("__row"),
        F.col("col").cast("long").alias("__col"),
        F.col(value).alias("__val"),
    )
    if broadcast_cells:
        c = F.broadcast(c)
    p = points.withColumns({"__col": F.expr(grid.col_sql(f"`{x}`")), "__row": F.expr(grid.row_sql(f"`{y}`"))})
    return (
        p.join(c, ["__row", "__col"], "left")
        .withColumn(out_col, F.coalesce(F.col("__val"), F.lit(grid.nodata)))
        .drop("__row", "__col", "__val")
    )


def clip_raster_to_polygon(
    cells, grid, polys_parts, index, *, erase: bool = False
):
    """ClipRasterToPolygon / ErasePolygonFromRaster (gis_analysis/
    clip_raster_to_polygon.rs, erase_polygon_from_raster.rs): keep (or
    drop) cells whose CENTER falls inside any polygon — the
    polygons_to_raster center-PIP machinery re-used as a semi/anti join."""
    from pyspark.sql import functions as F

    from whitebox_tools_spark.operators.raster_vector import polygons_to_raster

    covered = polygons_to_raster(
        cells.sparkSession, polys_parts, grid, index
    ).select("row", "col")
    how = "left_anti" if erase else "semi"
    return cells.filter(F.col("value").isNotNull()).join(
        covered, ["row", "col"], how
    )
