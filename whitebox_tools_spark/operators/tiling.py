"""Deterministic tiling / gridding (class TILE).

Cell/tile assignment is always one projection over the grid module's SQL
text (whole-stage codegen), followed by groupBy(tile) aggregation or a
partitioned write —
this is the reference's LidarTile / BlockMaximumGridding / AggregateRaster
re-expressed as one-shuffle DataFrame plans.

References:
  - LidarTile grid math: /root/reference/whitebox-tools-app/src/tools/
    lidar_analysis/lidar_tile.rs:300-325 (floor-anchored tile ids).
  - BlockMaximumGridding / BlockMinimumGridding: gis_analysis/
    block_maximum.rs:147 (max of point values per output cell).
  - AggregateRaster: gis_analysis/aggregate_raster.rs:142 (agg_factor
    downsample, mean/min/max/sum of the covered fine cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import GridSpec, lidar_tile_sql


def assign_tiles(
    points: DataFrame,
    *,
    x: str = "x",
    y: str = "y",
    width: float,
    height: float,
    origin_x: float = 0.0,
    origin_y: float = 0.0,
    min_x: float,
    min_y: float,
    max_x: float,
    max_y: float,
) -> DataFrame:
    """Append (tile_col, tile_row, tile) per lidar_tile.rs:322-325, as one
    projection over the grid.lidar_tile_sql text (the DuckDB oracles use
    the same text)."""
    tcol, trow, tile = lidar_tile_sql(
        f"`{x}`",
        f"`{y}`",
        width=width,
        height=height,
        origin_x=origin_x,
        origin_y=origin_y,
        min_x=min_x,
        min_y=min_y,
        max_x=max_x,
        max_y=max_y,
    )
    return points.selectExpr("*", f"{tcol} AS tile_col", f"{trow} AS tile_row", f"{tile} AS tile")


def tile_counts(tiled: DataFrame, *, min_points: int = 0) -> DataFrame:
    """Tiles with their point counts; tiles under min_points dropped
    (lidar_tile.rs: tiles with < min_points are not written)."""
    out = tiled.groupBy("tile").agg(F.count(F.lit(1)).alias("n_points"))
    if min_points > 0:
        out = out.filter(F.col("n_points") >= min_points)
    return out


def block_gridding(
    points: DataFrame,
    grid: GridSpec,
    *,
    x: str = "x",
    y: str = "y",
    value: str = "z",
    agg: str = "max",
) -> DataFrame:
    """BlockMaximum/MinimumGridding: assign each point to its output cell by
    the floor formulas and take max/min of the value per cell. Cells with no
    points are nodata (= absent rows here; densify with a grid range join
    only when a dense raster is required)."""
    fn = {"max": F.max, "min": F.min, "mean": F.avg, "sum": F.sum, "count": F.count}[agg]
    return (
        points.withColumns({"col": F.expr(grid.col_sql(f"`{x}`")), "row": F.expr(grid.row_sql(f"`{y}`"))})
        .filter(grid.in_grid_sql("row", "col"))
        .groupBy("row", "col")
        .agg(fn(F.col(value)).alias("value"))
    )


def aggregate_raster(
    cells: DataFrame,
    *,
    agg_factor: int,
    agg: str = "mean",
) -> DataFrame:
    """AggregateRaster: downsample a (row, col, value) cell table by
    agg_factor — coarse cell = (row div f, col div f); one hash aggregate."""
    fn = {"mean": F.avg, "min": F.min, "max": F.max, "sum": F.sum}[agg]
    f = F.lit(agg_factor).cast("long")
    return (
        cells.filter(F.col("value").isNotNull())
        .groupBy(
            F.floor(F.col("row") / f).alias("row"),
            F.floor(F.col("col") / f).alias("col"),
        )
        .agg(fn("value").alias("value"))
    )


def hex_centers(
    *,
    min_x: float,
    max_x: float,
    min_y: float,
    max_y: float,
    width: float,
) -> list[tuple[int, int, int, float, float]]:
    """Horizontal-orientation hexagon center lattice
    (gis_analysis/vector_hex_bin.rs:281-340): returns
    [(hex_index, row, col, cx, cy), ...] in the reference's insertion order
    (scan order; the FID/tie-break order)."""
    import math

    # NOTE: the reference's variable `sixty_degrees` is actually PI/6 = 30
    # degrees (vector_hex_bin.rs:280-282): size = w / (2 cos(PI/6)), the
    # circumradius of a regular hexagon of width w.
    half_width = 0.5 * width
    size = half_width / math.cos(math.radians(30.0))
    height = size * 2.0
    three_quarter_height = 0.75 * height
    ext_h = max_y - min_y
    ext_w = max_x - min_x
    center_x_0 = min_x + half_width
    center_y_0 = max_y - 0.25 * height
    rows = math.ceil(ext_h / three_quarter_height)
    out = []
    hex_index = 0
    for r in range(rows):
        cy = center_y_0 - r * three_quarter_height
        cols = math.ceil((ext_w + half_width * (r % 2)) / width)
        for c in range(cols):
            cx = (center_x_0 - half_width * (r % 2)) + c * width
            out.append((hex_index, r, c, cx, cy))
            hex_index += 1
    return out


def hex_binning(
    points: DataFrame,
    *,
    width: float,
    min_x: float,
    max_x: float,
    min_y: float,
    max_y: float,
    point_id: str = "point_id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """VectorHexBinning (vector_hex_bin.rs:157-190,326-397): assign each
    point to its nearest hexagon center (the reference's FRS knn-1; ties by
    hex insertion order), then count per hex. Emits EVERY hex (count 0
    included) as (fid, hex_row, hex_col, count).

    Spark plan: the center lattice is tiny (<=100k in the reference) ->
    broadcast; assignment reuses the exact k-ring kNN join with centers as
    the searchable side.
    """
    from whitebox_tools_spark.grid import CellIndex
    from whitebox_tools_spark.operators.knn import knn_join

    spark = points.sparkSession
    centers = hex_centers(min_x=min_x, max_x=max_x, min_y=min_y, max_y=max_y, width=width)
    cdf = spark.createDataFrame(
        centers, "hex_index long, hex_row int, hex_col int, cx double, cy double"
    )
    # index sized so one ring reaches the nearest center (spacing ~ width).
    # The lattice OVERHANGS the point extent by up to one pitch (the last
    # row/column of centers sits past max_x/max_y) — the index extent must
    # cover the centers too, or edge centers land in a clamped cell and the
    # ring search never finds them (observed: count-0 hexes on the east
    # edge while their points were assigned to the next column in).
    import math as _m

    max_cx = max(c[3] for c in centers)
    max_cy = max(c[4] for c in centers)
    min_cx = min(c[3] for c in centers)
    min_cy = min(c[4] for c in centers)
    west = min(min_x, min_cx)
    south = min(min_y, min_cy)
    extent = max(max_x, max_cx) - west
    extent = max(extent, max(max_y, max_cy) - south)
    zoom = max(0, min(12, int(_m.floor(_m.log2(max(extent / (2.0 * width), 1.0))))))
    idx = CellIndex(west, south, extent * 1.0000001, zoom)
    nn = knn_join(
        points,
        cdf,
        1,
        idx,
        target_id=point_id,
        tx=x,
        ty=y,
        point_id="hex_index",
        px="cx",
        py="cy",
        z="hex_index",
    )
    counts = nn.groupBy(F.col("point_id").alias("hex_index")).agg(
        F.count(F.lit(1)).alias("count")
    )
    return (
        cdf.join(counts, "hex_index", "left")
        .select(
            (F.col("hex_index") + 1).alias("fid"),
            F.col("hex_row"),
            F.col("hex_col"),
            F.coalesce(F.col("count"), F.lit(0)).cast("long").alias("count"),
        )
    )


def hex_binning_oracle_sql(
    points_cte: str,
    *,
    width: float,
    min_x: float,
    max_x: float,
    min_y: float,
    max_y: float,
) -> str:
    """DuckDB mirror: centers as VALUES (same python-generated lattice),
    nearest center by (squared distance, hex_index) per point."""
    centers = hex_centers(min_x=min_x, max_x=max_x, min_y=min_y, max_y=max_y, width=width)
    vals = ", ".join(f"({h}, {r}, {c}, {cx!r}, {cy!r})" for h, r, c, cx, cy in centers)
    return f"""
WITH pts AS ({points_cte}),
centers(hex_index, hex_row, hex_col, cx, cy) AS (VALUES {vals}),
assign AS (
  SELECT p.point_id, c.hex_index,
         row_number() OVER (PARTITION BY p.point_id
           ORDER BY (p.x-c.cx)*(p.x-c.cx) + (p.y-c.cy)*(p.y-c.cy), c.hex_index) AS rn
  FROM pts p CROSS JOIN centers c
),
counts AS (SELECT hex_index, count(*) AS n FROM assign WHERE rn = 1 GROUP BY hex_index)
SELECT CAST(c.hex_index + 1 AS BIGINT) AS fid, c.hex_row, c.hex_col,
       CAST(coalesce(n.n, 0) AS BIGINT) AS count
FROM centers c LEFT JOIN counts n ON c.hex_index = n.hex_index
"""
