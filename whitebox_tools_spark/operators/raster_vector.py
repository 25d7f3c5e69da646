"""Raster <-> vector conversion (classes PIP and CC).

VectorPolygonsToRaster (/root/reference/whitebox-tools-app/src/tools/
data_tools/vector_polygons_to_raster.rs:151,476-573): per record in order,
rasterize holes into a mask then set shell-covered cell centers to the
record's value; later records overwrite earlier ones. Re-expressed: PIP of
all cell centers against the polygon set (cell-cover broadcast join + exact
refine, which already applies the per-record hole logic in part order), then
last-record-wins = max_by(poly_id) per cell.

Clump / connected components (gis_analysis/clump.rs, BFS flood fill,
8-connectivity): re-expressed as iterative min-label propagation over the
neighbor graph — each cell starts with label = row*C+col, repeatedly takes
the min label among its (present) neighbors until fixpoint, then labels are
renumbered densely in scan order (min(row*C+col) per component), matching
the reference's scan-order clump ids. Iterations are logarithmic in
component diameter (min-label hops double); localCheckpoint truncates
lineage each round.

RasterToVectorPoints (data_tools/raster_to_vector_points.rs:126): cell
centers of non-nodata cells -> points. Pure expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import CellIndex, GridSpec, clamp_sql
from whitebox_tools_spark.distributed import loop_checkpoint
from whitebox_tools_spark.operators.pip import points_in_polygons


def polygons_to_raster(
    spark,
    polys_parts: list,
    grid: GridSpec,
    index: CellIndex,
    *,
    value_from_fid: bool = True,
) -> DataFrame:
    """-> (row, col, value): FID (= poly_id + 1, vector_polygons_to_raster.rs
    record_num+1 convention) of the last covering record per cell center;
    uncovered cells absent (nodata)."""
    n = grid.rows * grid.cols
    centers = (
        spark.range(n, numPartitions=max(1, n // 262144))
        .select(
            (F.col("id") / grid.cols).cast("long").alias("row"),
            (F.col("id") % grid.cols).alias("col"),
            F.col("id").alias("point_id"),
        )
        .selectExpr("*", f"{grid.x_center_sql('col')} AS x", f"{grid.y_center_sql('row')} AS y")
    )
    hits = points_in_polygons(centers, polys_parts, index)
    win = hits.groupBy("point_id").agg(F.max("poly_id").alias("poly_id"))
    out = win.select(
        (F.col("point_id") / grid.cols).cast("long").alias("row"),
        (F.col("point_id") % grid.cols).alias("col"),
        (F.col("poly_id") + 1).cast("double").alias("value"),
    )
    return out


def vector_lines_to_raster(
    lines: DataFrame,
    grid: GridSpec,
    *,
    line_id: str = "line_id",
    value: str | None = None,
) -> DataFrame:
    """VectorLinesToRaster (data_tools/vector_lines_to_raster.rs:173):
    for every line segment, mark the cell at each crossing of a row's
    center y-line (col = col_of(x at y_r)) and each column's center x-line
    (row = row_of(y at x_c)); later records overwrite earlier ones.

    lines: (line_id, xs, ys). value defaults to FID = line_id + 1.
    Pure expressions: segments explode over their own clamped row/col
    ranges (equivalent to the reference's part-bbox scan — rows outside a
    segment's span fail its is_between test), winner per cell =
    max_by(line order). -> (row, col, value)."""
    # consecutive vertices form segments — array indexing, no window
    seg_i = F.explode(F.sequence(F.lit(1), F.size("xs") - 1)).alias("i")
    segs = lines.select(F.col(line_id).alias("lid"), "xs", "ys", seg_i).select(
        "lid", "i",
        F.element_at("xs", F.col("i")).alias("x0"),
        F.element_at("ys", F.col("i")).alias("y0"),
        F.element_at("xs", F.col("i") + 1).alias("x1"),
        F.element_at("ys", F.col("i") + 1).alias("y1"),
    )
    val = (F.col("lid") + 1).cast("double") if value is None else F.col(value)
    segs = segs.withColumn("v", val)

    rows_m1 = grid.rows - 1
    cols_m1 = grid.cols - 1

    # row-line crossings
    r_top = clamp_sql(grid.row_sql("greatest(y0, y1)"), rows_m1)
    r_bot = clamp_sql(grid.row_sql("least(y0, y1)"), rows_m1)
    rc = segs.selectExpr("*", f"explode(sequence({r_top}, {r_bot})) AS row")
    y_r = grid.y_center_sql("row")
    x_prime = f"x0 + ({y_r} - y0) / (y1 - y0) * (x1 - x0)"
    rc = rc.where(f"{y_r} >= least(y0, y1) AND {y_r} <= greatest(y0, y1) AND y1 != y0").selectExpr(
        "lid", "v", "row", f"{grid.col_sql(x_prime)} AS col"
    )

    # column-line crossings
    c_left = clamp_sql(grid.col_sql("least(x0, x1)"), cols_m1)
    c_right = clamp_sql(grid.col_sql("greatest(x0, x1)"), cols_m1)
    cc = segs.selectExpr("*", f"explode(sequence({c_left}, {c_right})) AS col")
    x_c = grid.x_center_sql("col")
    y_prime = f"y0 + ({x_c} - x0) / (x1 - x0) * (y1 - y0)"
    cc = cc.where(f"{x_c} >= least(x0, x1) AND {x_c} <= greatest(x0, x1) AND x1 != x0").selectExpr(
        "lid", "v", f"{grid.row_sql(y_prime)} AS row", "col"
    )

    marks = rc.unionByName(cc).where(f"row >= 0 AND row <= {rows_m1} AND col >= 0 AND col <= {cols_m1}")
    return marks.groupBy("row", "col").agg(F.max_by("v", "lid").alias("value"))


def raster_to_vector_points(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """Non-nodata cells -> point features at cell centers."""
    return cells.filter(F.col("value").isNotNull()).selectExpr(
        f"row * {grid.cols} + col AS fid", f"{grid.x_center_sql('col')} AS x", f"{grid.y_center_sql('row')} AS y", "value"
    )


def clump(
    cells: DataFrame,
    *,
    diagonals: bool = True,
    max_iterations: int = 48,
) -> DataFrame:
    """Connected components of equal-valued, non-null cells
    (8-connectivity when diagonals=True) -> (row, col, value, clump_id) with
    clump ids 1..n densely numbered in scan order (raster scan of the
    component's minimum row*BIG+col), matching clump.rs scan-order ids.

    Algorithm: iterative min-label propagation with POINTER DOUBLING — each
    round takes the min label over the 4/8-neighborhood, then twice replaces
    each cell's label by the label OF the cell the label points at
    (labels encode cells as row*2^31+col). Neighbor-min alone advances one
    cell per round (O(diameter)); the shortcut hops double the reach, giving
    O(log diameter) rounds. localCheckpoint truncates lineage per round.
    """
    BIG = F.lit(1 << 31).cast("long")
    base = (
        cells.filter(F.col("value").isNotNull())
        .select("row", "col", "value")
        .withColumn("label", F.col("row") * (1 << 31) + F.col("col"))
        .localCheckpoint(eager=True)
    )
    offsets = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    if diagonals:
        offsets += [(-1, -1), (-1, 1), (1, -1), (1, 1)]

    def shortcut(df: DataFrame) -> DataFrame:
        ref = df.select(
            (F.col("row") * (1 << 31) + F.col("col")).alias("__key"),
            F.col("label").alias("__l2"),
        )
        return (
            df.join(ref, df["label"] == ref["__key"], "left")
            .withColumn("label", F.least(F.col("label"), F.coalesce(F.col("__l2"), F.col("label"))))
            .drop("__key", "__l2")
        )

    cur = base
    for _ in range(max_iterations):
        right = cur.select(
            F.col("row").alias("r2"), F.col("col").alias("c2"),
            F.col("value").alias("v2"), F.col("label").alias("l2"),
        )
        exploded = cur.withColumn(
            "nbr",
            F.explode(
                F.array(*[F.struct(
                    (F.col("row") + F.lit(dr)).alias("r2"),
                    (F.col("col") + F.lit(dc)).alias("c2"),
                ) for dr, dc in offsets])
            ),
        ).select("row", "col", "value", "label",
                 F.col("nbr.r2").alias("r2"), F.col("nbr.c2").alias("c2"))
        nb = (
            exploded.join(right, ["r2", "c2"])
            .filter(F.col("value") == F.col("v2"))
            .groupBy("row", "col")
            .agg(F.min("l2").alias("nbl"))
        )
        nxt = (
            cur.join(nb, ["row", "col"], "left")
            .withColumn("label", F.least(F.col("label"), F.coalesce(F.col("nbl"), F.col("label"))))
            .drop("nbl")
        )
        nxt = shortcut(shortcut(nxt)).transform(loop_checkpoint)
        changed = (
            nxt.join(cur.select("row", "col", F.col("label").alias("old")), ["row", "col"])
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        cur = nxt
        if changed == 0:
            break

    # dense renumbering in scan order of component minimum (row-major) —
    # distributed offset pattern, not a global window (a speckled raster can
    # have ~1e9 components)
    from whitebox_tools_spark.distributed import with_global_seq

    comp = cur.groupBy("label").agg(
        F.min(F.col("row") * (1 << 31) + F.col("col")).alias("scan")
    )
    ids = with_global_seq(comp, ["scan"], out_col="clump_id").select("label", "clump_id")
    _ = BIG
    return cur.join(F.broadcast(ids), "label").select("row", "col", "value", "clump_id")


def boundary_edges(clumped: DataFrame, grid: GridSpec) -> DataFrame:
    """Directed boundary edges of each clump (raster_to_vector_polygons.rs:
    306-342: one segment per cell edge whose neighbor belongs to a different
    clump, endpoints on cell corners).

    Direction convention: clump interior on the LEFT of the directed edge
    (top: E->W, bottom: W->E, left: N->S, right: S->N), which makes shells
    trace counter-clockwise; orientation is normalized to shapefile winding
    (shells CW, holes CCW) during stitching. Pure DataFrame: explode the 4
    sides + one left anti-ish join against the neighbor cell.
    -> (clump_id, value, x0, y0, x1, y1)
    """
    c = clumped.select("row", "col", "value", "clump_id")
    nbr = c.select(
        F.col("row").alias("nr"), F.col("col").alias("nc"), F.col("clump_id").alias("n_clump")
    )
    sides = F.array(
        # side, dr, dc  (neighbor offset)
        F.struct(F.lit("top").alias("side"), F.lit(-1).alias("dr"), F.lit(0).alias("dc")),
        F.struct(F.lit("bottom").alias("side"), F.lit(1).alias("dr"), F.lit(0).alias("dc")),
        F.struct(F.lit("left").alias("side"), F.lit(0).alias("dr"), F.lit(-1).alias("dc")),
        F.struct(F.lit("right").alias("side"), F.lit(0).alias("dr"), F.lit(1).alias("dc")),
    )
    e = (
        c.withColumn("s", F.explode(sides))
        .withColumn("nr", F.col("row") + F.col("s.dr"))
        .withColumn("nc", F.col("col") + F.col("s.dc"))
        .join(nbr, ["nr", "nc"], "left")
        .filter(F.col("n_clump").isNull() | (F.col("n_clump") != F.col("clump_id")))
    )
    xw = F.lit(grid.west) + F.col("col").cast("double") * F.lit(grid.res_x)
    xe = xw + F.lit(grid.res_x)
    yn = F.lit(grid.north) - F.col("row").cast("double") * F.lit(grid.res_y)
    ys = yn - F.lit(grid.res_y)
    side = F.col("s.side")
    return e.select(
        "clump_id",
        "value",
        F.when(side == "top", xe).when(side == "bottom", xw)
        .when(side == "left", xw).otherwise(xe).alias("x0"),
        F.when(side == "top", yn).when(side == "bottom", ys)
        .when(side == "left", yn).otherwise(ys).alias("y0"),
        F.when(side == "top", xw).when(side == "bottom", xe)
        .when(side == "left", xw).otherwise(xe).alias("x1"),
        F.when(side == "top", yn).when(side == "bottom", ys)
        .when(side == "left", ys).otherwise(yn).alias("y1"),
    )


def _stitch_rings(pdf):
    """Assemble directed boundary edges of ONE clump into closed rings.

    Endpoints are exact doubles (cell-corner arithmetic), so matching is
    exact. At pinch vertices (diagonally-touching cells) two outgoing edges
    exist; the leftmost turn relative to the incoming direction is taken,
    keeping each ring maximally tight (same role as the reference's
    max-deflection choice, raster_to_vector_polygons.rs:352-430).
    Deterministic: rings start at their lexicographically smallest (x, y)
    vertex; shells re-wound CW, holes CCW (shapefile winding).
    """
    import numpy as np
    import pandas as pd

    from whitebox_tools_spark import geometry as G

    edges = list(
        zip(pdf["x0"].to_numpy(), pdf["y0"].to_numpy(), pdf["x1"].to_numpy(), pdf["y1"].to_numpy())
    )
    out_map: dict = {}
    for i, (x0, y0, x1, y1) in enumerate(edges):
        out_map.setdefault((x0, y0), []).append(i)
    used = [False] * len(edges)
    rings = []
    order = sorted(range(len(edges)), key=lambda i: (edges[i][0], edges[i][1], edges[i][2], edges[i][3]))
    for start in order:
        if used[start]:
            continue
        ring_x, ring_y = [edges[start][0]], [edges[start][1]]
        cur = start
        while True:
            used[cur] = True
            x0, y0, x1, y1 = edges[cur]
            ring_x.append(x1)
            ring_y.append(y1)
            if (x1, y1) == (ring_x[0], ring_y[0]):
                break
            cands = [i for i in out_map.get((x1, y1), []) if not used[i]]
            if not cands:
                break  # open chain (shouldn't happen on valid masks)
            if len(cands) == 1:
                cur = cands[0]
            else:
                # leftmost turn: maximize cross(in_dir, out_dir), then prefer
                # straight over right
                din = (x1 - x0, y1 - y0)

                def turn(i):
                    ox = edges[i][2] - edges[i][0]
                    oy = edges[i][3] - edges[i][1]
                    return din[0] * oy - din[1] * ox

                cur = max(cands, key=lambda i: (turn(i), -i))
        if len(ring_x) >= 4 and (ring_x[0], ring_y[0]) == (ring_x[-1], ring_y[-1]):
            rings.append((np.array(ring_x), np.array(ring_y)))

    clump_id = int(pdf["clump_id"].iloc[0])
    value = float(pdf["value"].iloc[0])
    rows = []
    # interior-left tracing makes shells CCW; normalize to shapefile winding
    ring_info = []
    for xs, ys in rings:
        ccw = G.signed_area2(xs, ys) > 0.0
        is_hole = not ccw  # holes traced CW under interior-left
        if ccw == (not is_hole):  # shells CCW -> reverse to CW; holes CW -> reverse to CCW
            xs, ys = xs[::-1], ys[::-1]
        ring_info.append((is_hole, xs, ys))
    ring_info.sort(key=lambda t: (t[0], t[1][0], t[2][0]))  # shells first
    for k, (is_hole, xs, ys) in enumerate(ring_info):
        rows.append(
            {
                "clump_id": clump_id,
                "value": value,
                "part_idx": k,
                "is_hole": bool(is_hole),
                "xs": [float(v) for v in xs],
                "ys": [float(v) for v in ys],
            }
        )
    import pandas as pd  # noqa: F811

    return pd.DataFrame(rows, columns=["clump_id", "value", "part_idx", "is_hole", "xs", "ys"])


def raster_to_vector_polygons(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """RasterToVectorPolygons (data_tools/raster_to_vector_polygons.rs:131):
    clump equal-valued cells (8-connectivity), trace each clump's boundary
    into closed rings on cell corners. -> (fid, value, part_idx, is_hole,
    xs, ys) with fid = clump id (scan order, 1..n).

    Pipeline: iterative min-label clump -> one-shuffle edge extraction ->
    per-clump applyInPandas ring stitching (clump boundaries are small even
    when the raster is huge — the heavy lifting stays in joins)."""
    labeled = clump(cells)
    edges = boundary_edges(labeled, grid)
    rings = edges.groupBy("clump_id").applyInPandas(
        _stitch_rings,
        schema=(
            "clump_id long, value double, part_idx int, is_hole boolean, "
            "xs array<double>, ys array<double>"
        ),
    )
    return rings.select(
        F.col("clump_id").alias("fid"), "value", "part_idx", "is_hole", "xs", "ys"
    )


def points_to_raster(
    points: DataFrame, grid, *, field: str = "value", assign: str = "last",
    id_col: str = "point_id",
) -> DataFrame:
    """VectorPointsToRaster (data_tools/vector_points_to_raster.rs): assign
    each occupied cell first/last/min/max/sum/mean/number of its contained
    points' field values ("last" = highest record id, the reference
    default). Only occupied cells are emitted (the reference fills the
    rest with a background constant). -> (row, col, value)."""
    from pyspark.sql import functions as F

    src = points.filter(F.col(field).isNotNull()).selectExpr(
        f"{grid.row_sql('y')} AS row", f"{grid.col_sql('x')} AS col", f"`{field}` AS v", f"`{id_col}` AS pid"
    ).filter(grid.in_grid_sql("row", "col"))
    g = src.groupBy("row", "col")
    if assign == "first":
        out = g.agg(F.min(F.struct("pid", "v")).getField("v").alias("value"))
    elif assign == "last":
        out = g.agg(F.max(F.struct("pid", "v")).getField("v").alias("value"))
    elif assign == "min":
        out = g.agg(F.min("v").alias("value"))
    elif assign == "max":
        out = g.agg(F.max("v").alias("value"))
    elif assign == "sum":
        out = g.agg(F.sum("v").alias("value"))
    elif assign == "mean":
        out = g.agg(F.avg("v").alias("value"))
    elif assign == "number":
        out = g.agg(F.count(F.lit(1)).cast("double").alias("value"))
    else:
        raise ValueError(assign)
    return out


def points_to_raster_oracle_sql(
    points_sql: str, grid, *, field: str = "value", assign: str = "last"
) -> str:
    row = grid.row_sql("y")
    col = grid.col_sql("x")
    agg = {
        "first": "min(struct_pack(pid := pid, v := v)).v",
        "last": "max(struct_pack(pid := pid, v := v)).v",
        "min": "min(v)",
        "max": "max(v)",
        "sum": "sum(v)",
        "mean": "avg(v)",
        "number": "CAST(count(*) AS DOUBLE)",
    }[assign]
    return f"""
WITH src AS (
  SELECT {row} AS row, {col} AS col, {field} AS v, point_id AS pid
  FROM ({points_sql}) t WHERE {field} IS NOT NULL
)
SELECT row, col, {agg} AS value FROM src
WHERE row >= 0 AND row < {grid.rows} AND col >= 0 AND col < {grid.cols}
GROUP BY row, col
"""


def filter_features_by_area(
    cells: DataFrame, *, min_cells: int, background: float = 0.0,
    diagonals: bool = True,
) -> DataFrame:
    """FilterRasterFeaturesByArea (gis_analysis/
    filter_raster_features_by_area.rs): clump the raster, replace cells of
    components smaller than `min_cells` with `background`.
    -> (row, col, value)."""
    from pyspark.sql import functions as F

    cl = clump(cells, diagonals=diagonals)
    sizes = cl.groupBy("clump_id").agg(F.count(F.lit(1)).alias("n"))
    return cl.join(sizes, "clump_id").select(
        "row", "col",
        F.when(F.col("n") >= min_cells, F.col("value"))
        .otherwise(F.lit(background)).alias("value"),
    )


def raise_walls(
    dem: DataFrame, walls: DataFrame, grid: GridSpec, *, height: float = 100.0
) -> DataFrame:
    """RaiseWalls (hydro_analysis/raise_walls.rs): add `height` to every
    DEM cell crossed by a wall line (vector_lines_to_raster cell set).
    walls: (line_id, xs, ys) polylines. -> (row, col, value)."""
    wcells = vector_lines_to_raster(walls, grid).select("row", "col").distinct()
    marked = dem.join(wcells.withColumn("__w", F.lit(1)), ["row", "col"], "left")
    return marked.select(
        "row", "col",
        F.when(F.col("__w").isNotNull(), F.col("value") + F.lit(height))
        .otherwise(F.col("value"))
        .alias("value"),
    )


def flatten_lakes(
    dem: DataFrame,
    grid: GridSpec,
    lake_polys_parts: list,
    index,
) -> DataFrame:
    """FlattenLakes (hydro_analysis/flatten_lakes.rs): every lake
    polygon's interior takes the minimum DEM elevation found along the
    lake's rasterized perimeter (the assumed outlet elevation).
    -> (row, col, value)."""
    spark = dem.sparkSession
    # perimeter cells per lake: shell rings rasterized as lines
    rows = []
    for pid, parts in lake_polys_parts:
        for xs, ys, hole in parts:
            if not hole:
                rows.append((pid, [float(v) for v in xs], [float(v) for v in ys]))
    walls = spark.createDataFrame(
        rows, "line_id long, xs array<double>, ys array<double>"
    )
    per_cells = vector_lines_to_raster(walls, grid).select(
        "row", "col", (F.col("value") - 1).cast("long").alias("lake")
    )
    min_elev = (
        per_cells.join(dem, ["row", "col"])
        .groupBy("lake")
        .agg(F.min(dem["value"]).alias("lake_z"))
    )
    interior = polygons_to_raster(spark, lake_polys_parts, grid, index).select(
        "row", "col", (F.col("value") - 1).alias("lake")
    )
    repl = interior.join(F.broadcast(min_elev), "lake").select(
        "row", "col", F.col("lake_z")
    )
    return dem.join(repl, ["row", "col"], "left").select(
        "row", "col", F.coalesce(F.col("lake_z"), F.col("value")).alias("value")
    )


def shape_complexity_index_raster(patches: DataFrame) -> DataFrame:
    """ShapeComplexityIndexRaster (gis_analysis/shape_complexity_raster.rs:
    210-310): per patch id, (horizontal run starts + vertical run starts)
    / (bbox height + bbox width); every patch cell takes its patch's
    index. patches: (row, col, value) with positive integer ids."""
    src = patches.filter(F.col("value").isNotNull() & (F.col("value") > 0)).select(
        "row", "col", "value"
    )
    left = src.select(
        F.col("row").alias("row"), (F.col("col") + 1).alias("col"),
        F.col("value").alias("lv"),
    )
    up = src.select(
        (F.col("row") + 1).alias("row"), F.col("col").alias("col"),
        F.col("value").alias("uv"),
    )
    runs = (
        src.join(left, ["row", "col"], "left")
        .join(up, ["row", "col"], "left")
        .groupBy("value")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("lv").isNull() | (F.col("lv") != F.col("value")), 1.0
                    ).otherwise(0.0)
                )
                + F.sum(
                    F.when(
                        F.col("uv").isNull() | (F.col("uv") != F.col("value")), 1.0
                    ).otherwise(0.0)
                )
            ).alias("runs"),
            (F.max("row") - F.min("row") + 1).alias("h"),
            (F.max("col") - F.min("col") + 1).alias("w"),
        )
        .select(
            "value", (F.col("runs") / (F.col("h") + F.col("w"))).alias("index")
        )
    )
    return src.join(runs, "value").select("row", "col", F.col("index").alias("sci"))


def shape_complexity_index_raster_oracle_sql(patch_sql: str) -> str:
    return f"""
WITH src AS (SELECT row, col, value FROM ({patch_sql}) WHERE value IS NOT NULL AND value > 0),
runs AS (
  SELECT s.value,
         SUM(CASE WHEN l.value IS NULL OR l.value <> s.value THEN 1.0 ELSE 0.0 END)
       + SUM(CASE WHEN u.value IS NULL OR u.value <> s.value THEN 1.0 ELSE 0.0 END) AS runs,
         max(s.row) - min(s.row) + 1 AS h, max(s.col) - min(s.col) + 1 AS w
  FROM src s
  LEFT JOIN src l ON l.row = s.row AND l.col = s.col - 1
  LEFT JOIN src u ON u.row = s.row - 1 AND u.col = s.col
  GROUP BY s.value
)
SELECT s.row, s.col, r.runs / (r.h + r.w) AS sci
FROM src s JOIN runs r ON r.value = s.value
"""


def narrowness_index(patches: DataFrame) -> DataFrame:
    """NarrownessIndex (gis_analysis/narrowness_index.rs): NI = A /
    (pi * MD^2) with A the patch cell count and MD the maximum
    distance-to-edge (Euclidean cell units to the nearest cell not
    carrying the id; off-grid ring counts as edge). Every patch cell takes
    its patch's NI. Distance via a bounded candidate join (patch radius
    bounds the search window)."""
    import math

    src = patches.filter(F.col("value").isNotNull() & (F.col("value") > 0)).select(
        "row", "col", "value"
    )
    spark = patches.sparkSession
    # exterior cells: 8-ring around patch cells not sharing the id
    offs = spark.createDataFrame(
        [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if dy or dx],
        "dy int, dx int",
    )
    ring = (
        src.crossJoin(F.broadcast(offs))
        .select(
            F.col("value").alias("pid"),
            (F.col("row") + F.col("dy")).alias("erow"),
            (F.col("col") + F.col("dx")).alias("ecol"),
        )
        .distinct()
        .join(
            src.select(
                F.col("row").alias("erow"), F.col("col").alias("ecol"),
                F.col("value").alias("pid"),
            ),
            ["erow", "ecol", "pid"],
            "left_anti",
        )
    )
    d2 = (
        src.join(ring, src["value"] == ring["pid"])
        .groupBy("row", "col", "value")
        .agg(
            F.min(
                (F.col("row") - F.col("erow")) * (F.col("row") - F.col("erow"))
                + (F.col("col") - F.col("ecol")) * (F.col("col") - F.col("ecol"))
            ).alias("d2")
        )
    )
    ni = d2.groupBy("value").agg(
        (F.count(F.lit(1)) / (F.lit(math.pi) * F.max("d2"))).alias("ni")
    )
    return src.join(ni, "value").select("row", "col", F.col("ni").alias("ni"))


def narrowness_index_oracle_sql(patch_sql: str) -> str:
    import math

    return f"""
WITH src AS (SELECT row, col, value FROM ({patch_sql}) WHERE value IS NOT NULL AND value > 0),
ring AS (
  SELECT DISTINCT s.value AS pid, s.row + o.dy AS erow, s.col + o.dx AS ecol
  FROM src s
  CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)) o(dy, dx)
),
ext AS (
  SELECT r.pid, r.erow, r.ecol FROM ring r
  ANTI JOIN src s ON s.row = r.erow AND s.col = r.ecol AND s.value = r.pid
),
d2 AS (
  SELECT s.row, s.col, s.value,
         min((s.row - e.erow) * (s.row - e.erow) + (s.col - e.ecol) * (s.col - e.ecol)) AS d2
  FROM src s JOIN ext e ON e.pid = s.value
  GROUP BY s.row, s.col, s.value
),
ni AS (SELECT value, count(*) / ({math.pi!r} * max(d2)) AS ni FROM d2 GROUP BY value)
SELECT s.row, s.col, ni.ni
FROM src s JOIN ni ON ni.value = s.value
"""


def raster_to_vector_lines(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """RasterToVectorLines (data_tools/raster_to_vector_lines.rs:229-420):
    trace raster line features (non-zero, non-nodata cells) into
    polylines. Faithful per-component transcription of the reference's
    serial walk: seed a FIFO with the component's line-end cells
    (neighbor count == 1) in raster-scan order; each trace repeatedly
    steps to the unvisited neighbor with the highest neighbor count
    (first-in-dx-order on ties), queueing the other unvisited neighbors;
    a final scan traces closed loops. Component-local queue order equals
    the reference's global-FIFO subsequence (ends all enqueue before any
    branch), so GEOMETRY is exact; line NUMBERING is the documented
    deviation — ids order by the trace's first vertex scan position
    rather than the reference's interleaved global pop order.
    -> (line_id, value, n_vertices, length, x1, y1, x2, y2).

    Scale shape: one clump (pointer-doubled CC, O(log n) rounds) + one
    applyInPandas per component (components are 1-D features, tiny vs the
    raster)."""
    from collections import deque

    from whitebox_tools_spark.operators.raster_vector import clump

    src = cells.filter(F.col("value").isNotNull() & (F.col("value") != 0.0)).select(
        "row", "col", "value"
    )
    comp = clump(src.withColumn("value", F.lit(1.0)), diagonals=True).select(
        "row", "col", "clump_id"
    )
    j = src.join(comp, ["row", "col"])
    gw, gn, rx, ry = grid.west, grid.north, grid.res_x, grid.res_y
    dxs = [1, 1, 1, 0, -1, -1, -1, 0]
    dys = [-1, 0, 1, 1, 1, 0, -1, -1]

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        cellv = {
            (int(r), int(c)): float(v)
            for r, c, v in zip(pdf["row"], pdf["col"], pdf["value"])
        }
        cnt = {}
        for (r, c) in cellv:
            cnt[(r, c)] = sum(
                (r + dys[i], c + dxs[i]) in cellv for i in range(8)
            )
        visited = set()
        queue = deque(sorted([p for p, n in cnt.items() if n == 1]))
        out = []

        def trace(r, c):
            pts = [(r, c)]
            visited.add((r, c))
            while True:
                highest, best, others = 0, None, []
                for i in range(8):
                    p = (r + dys[i], c + dxs[i])
                    if p in cellv and p not in visited:
                        if cnt[p] > highest:
                            if highest > 0:
                                others.append(best)
                            highest, best = cnt[p], p
                        else:
                            others.append(p)
                if best is None:
                    return pts
                queue.extend(others)
                r, c = best
                pts.append((r, c))
                visited.add((r, c))

        def emit(pts, val):
            if len(pts) < 2:
                return
            xs = [gw + rx / 2.0 + p[1] * rx for p in pts]
            ys = [gn - ry / 2.0 - p[0] * ry for p in pts]
            length = float(
                sum(
                    ((xs[i + 1] - xs[i]) ** 2 + (ys[i + 1] - ys[i]) ** 2) ** 0.5
                    for i in range(len(pts) - 1)
                )
            )
            out.append(
                (pts[0][0], pts[0][1], len(out), val, len(pts), length,
                 xs[0], ys[0], xs[-1], ys[-1])
            )

        while queue:
            r, c = queue.popleft()
            if (r, c) not in visited:
                emit(trace(r, c), cellv[(r, c)])
        for p in sorted(cellv):
            if p not in visited:
                emit(trace(*p), cellv[p])
        return pd.DataFrame(
            out,
            columns=["srow", "scol", "lidx", "value", "n_vertices", "length",
                     "x1", "y1", "x2", "y2"],
        ).astype({"srow": np.int64, "scol": np.int64, "lidx": np.int64,
                  "n_vertices": np.int64})

    schema = ("srow long, scol long, lidx long, value double, n_vertices long, "
              "length double, x1 double, y1 double, x2 double, y2 double")
    traced = j.groupBy("clump_id").applyInPandas(kernel, schema)
    from pyspark.sql import Window as _W

    w = _W.orderBy("srow", "scol", "lidx")
    return traced.withColumn("line_id", F.row_number().over(w).cast("long")).select(
        "line_id", "value", "n_vertices", F.round("length", 6).alias("length"),
        F.round("x1", 6).alias("x1"), F.round("y1", 6).alias("y1"),
        F.round("x2", 6).alias("x2"), F.round("y2", 6).alias("y2"),
    )
