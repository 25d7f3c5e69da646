"""BufferRaster (gis_analysis/buffer_raster.rs): cells within a distance
of any non-background (non-zero, non-nodata) cell.

The reference runs a two-pass Danielsson distance transform in CELL units
and thresholds dist = sqrt(dr^2 + dc^2) * cell_size <= buffer_size with
cell_size = (res_x + res_y)/2 (buffer_raster.rs:210-221). The transform is
a serial-sweep approximation of the exact euclidean distance; this engine
computes the EXACT nearest-source distance instead (identical except for
the transform's rare over-estimates), with the same cell-unit metric and
threshold rule.

Spark plan (no distance transform sweeps — they are inherently serial):
bin source cells into k x k blocks where k = the buffer radius in cells;
every cell joins sources in its 3x3 block neighborhood (a bounded k-ring
candidate join, the NNI shape) and tests min squared distance. One shuffle,
candidates bounded by source density x 9 blocks; no global pass.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import GridSpec


def buffer_raster(cells: DataFrame, grid: GridSpec, *, size: float) -> DataFrame:
    """-> (row, col, value): 1.0 within `size` of a non-background cell
    (source cells included — distance 0), else 0.0; nodata stays NULL."""
    cell_size = (grid.res_x + grid.res_y) / 2.0 or 1.0
    k = max(1, int(math.ceil(size / cell_size)))
    thresh = (size / cell_size) ** 2  # cell-unit squared threshold

    src = cells.filter(F.col("value").isNotNull() & (F.col("value") != 0.0)).select(
        F.col("row").alias("srow"), F.col("col").alias("scol")
    )
    sb = src.select(
        "srow", "scol",
        F.floor(F.col("srow") / k).alias("br"),
        F.floor(F.col("scol") / k).alias("bc"),
    )
    tgt = cells.select("row", "col").withColumn(
        "br", F.explode(F.sequence(F.floor(F.col("row") / k) - 1, F.floor(F.col("row") / k) + 1))
    ).withColumn(
        "bc", F.explode(F.sequence(F.floor(F.col("col") / k) - 1, F.floor(F.col("col") / k) + 1))
    )
    d2 = (
        (F.col("row") - F.col("srow")) * (F.col("row") - F.col("srow"))
        + (F.col("col") - F.col("scol")) * (F.col("col") - F.col("scol"))
    ).cast("double")
    within = (
        tgt.join(sb, ["br", "bc"])
        .filter(d2 <= F.lit(thresh))
        .select("row", "col")
        .distinct()
    )
    return (
        cells.join(within.withColumn("__in", F.lit(1.0)), ["row", "col"], "left")
        .select(
            "row", "col",
            F.when(F.col("value").isNull(), F.lit(None).cast("double"))
            .otherwise(F.coalesce(F.col("__in"), F.lit(0.0)))
            .alias("value"),
        )
    )


def buffer_raster_oracle_sql(source_sql: str, grid: GridSpec, *, size: float) -> str:
    cell_size = (grid.res_x + grid.res_y) / 2.0 or 1.0
    thresh = (size / cell_size) ** 2
    return f"""
WITH cells AS (SELECT row, col, value FROM ({source_sql})),
src AS (SELECT row, col FROM cells WHERE value IS NOT NULL AND value <> 0.0)
SELECT c.row, c.col,
       CAST(CASE WHEN c.value IS NULL THEN NULL
            WHEN EXISTS (
              SELECT 1 FROM src s
              WHERE CAST((c.row - s.row)*(c.row - s.row)
                       + (c.col - s.col)*(c.col - s.col) AS DOUBLE) <= {thresh!r}
            ) THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value
FROM cells c
"""


def _source_points(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """Non-background cells as points at their centers, keyed by scan order."""
    return cells.filter(F.col("value").isNotNull() & (F.col("value") != 0.0)).select(
        (F.col("row") * F.lit(grid.cols).cast("long") + F.col("col")).alias("point_id"),
        (F.lit(grid.west + grid.res_x / 2.0) + F.col("col") * F.lit(grid.res_x)).alias("x"),
        (F.lit(grid.north - grid.res_y / 2.0) - F.col("row") * F.lit(grid.res_y)).alias("y"),
        F.col("value").alias("z"),
    )


def _cell_targets(cells: DataFrame, grid: GridSpec) -> DataFrame:
    return cells.filter(F.col("value").isNotNull()).select(
        "row", "col",
        (F.col("row") * F.lit(grid.cols).cast("long") + F.col("col")).alias("target_id"),
        (F.lit(grid.west + grid.res_x / 2.0) + F.col("col") * F.lit(grid.res_x)).alias("x"),
        (F.lit(grid.north - grid.res_y / 2.0) - F.col("row") * F.lit(grid.res_y)).alias("y"),
    )


def euclidean_distance(cells: DataFrame, grid: GridSpec, index) -> DataFrame:
    """EuclideanDistance (gis_analysis/euclidean_distance.rs): map-unit
    distance from every valid cell center to the nearest non-background
    cell center (sources are 0). The reference's two-pass Shih&Wu
    transform is exact, so nearest-source search gives identical values;
    here it is the engine's exact kNN join (one candidate join over the
    neighbour cells a per-cell occupancy count proves sufficient, never
    all-pairs).
    -> (row, col, value)."""
    from whitebox_tools_spark.operators.knn import knn_join

    t = _cell_targets(cells, grid)
    nn = knn_join(t.select("target_id", "x", "y"), _source_points(cells, grid), 1, index)
    return t.join(nn.select("target_id", "dist"), "target_id", "left").select(
        "row", "col", F.col("dist").alias("value")
    )


def euclidean_allocation(cells: DataFrame, grid: GridSpec, index) -> DataFrame:
    """EuclideanAllocation (gis_analysis/euclidean_allocation.rs): every
    valid cell takes the VALUE of its nearest non-background cell (ties
    by (distance, source scan order) — deterministic under partitioning).
    -> (row, col, value)."""
    from whitebox_tools_spark.operators.knn import knn_join

    t = _cell_targets(cells, grid)
    nn = knn_join(t.select("target_id", "x", "y"), _source_points(cells, grid), 1, index)
    return t.join(nn.select("target_id", "z"), "target_id", "left").select(
        "row", "col", F.col("z").alias("value")
    )


def _euclid_ctes(source_sql: str, grid: GridSpec) -> str:
    return f"""
cells AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
pts AS (
  SELECT row * {grid.cols} + col AS pid,
         {grid.west!r} + {grid.res_x / 2.0!r} + col * {grid.res_x!r} AS x,
         {grid.north!r} - {grid.res_y / 2.0!r} - row * {grid.res_y!r} AS y,
         value
  FROM cells WHERE value <> 0.0
),
tgt AS (
  SELECT row, col,
         {grid.west!r} + {grid.res_x / 2.0!r} + col * {grid.res_x!r} AS x,
         {grid.north!r} - {grid.res_y / 2.0!r} - row * {grid.res_y!r} AS y
  FROM cells
),
nn AS (
  SELECT row, col, dist, value FROM (
    SELECT t.row, t.col,
           sqrt((t.x - p.x) * (t.x - p.x) + (t.y - p.y) * (t.y - p.y)) AS dist,
           p.value,
           row_number() OVER (
             PARTITION BY t.row, t.col
             ORDER BY (t.x - p.x) * (t.x - p.x) + (t.y - p.y) * (t.y - p.y) ASC,
                      p.pid ASC
           ) AS rk
    FROM tgt t CROSS JOIN pts p
  ) WHERE rk = 1
)"""


def euclidean_distance_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    return f"""
WITH {_euclid_ctes(source_sql, grid)}
SELECT row, col, round(dist, 6) AS value FROM nn
"""


def euclidean_allocation_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    return f"""
WITH {_euclid_ctes(source_sql, grid)}
SELECT row, col, value FROM nn
"""
