"""Point-in-polygon spatial join (class PIP — the core of the engine).

Re-answers the reference's Clip point case / VectorPointsInPolygon
(/root/reference/whitebox-tools-app/src/tools/gis_analysis/clip.rs:299-370):
for each point, parts of each candidate polygon are tested in order with the
even-odd winding test (poly_ops.rs:41-72); a containing shell keeps the
point, a containing hole drops it, later parts win; boundary points are
outside.

Spark plan (designed for 10^12 points x broadcastable polygon set):

  1. cell-cover build (driver, tiny): each polygon's bbox cover at the index
     zoom -> (cell_id, poly_id, bbox, part geometry) rows. This is the
     sargable version of the reference's bbox prefilter (clip.rs:315-316).
     The rows are one Arrow table, so the cover is a local relation
     (LocalTableScan with exact size stats): no job unpickles Python rows
     before the join can start.
  2. points get cell_id from CellIndex.cell_of_xy_sql, the SQL text every
     cell assignment uses (whole-stage codegen), with ix/iy clamped into
     [0, n-1] as the cover is: a point outside the world lands in the
     border cell next to it, so a polygon that reaches past the world edge
     still meets it; steps 4-5 keep the result exact.
  3. broadcast hash join points.cell_id == cover.cell_id — no shuffle of the
     big side, ever.
  4. bbox filter as a column expression (cheap rejection).
  5. exact winding-number refinement: one SQL `aggregate` over the
     polygon's parts, each part an inner `aggregate` over its broadcast edge
     array — JVM only, no Python and no shuffle. The higher-order functions
     are CodegenFallback in Spark 4.1, so the refine is interpreted per
     candidate row inside an otherwise whole-stage codegen'd stage.
     (Benchmarked: an Arrow/Python exchange was the scalability ceiling on
     many-core executors; the expression path removed it.)

For polygon sets too large to broadcast, pass broadcast=False to shuffle on
cell_id instead (both sides partitioned by cell — co-located sort-merge
equi-join, forced by a hint since the cover's exact size would otherwise
let Catalyst broadcast it).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import CellIndex

_EDGE = pa.struct([(c, pa.float64()) for c in ("x0", "y0", "x1", "y1")])
_PART = pa.struct([("hole", pa.bool_()), ("edges", pa.list_(_EDGE))])


def polygon_cover(
    spark: SparkSession, polys_parts, index: CellIndex, *, geometry: bool = False
) -> DataFrame:
    """Cell-cover rows (cell_id, poly_id, xmin, ymin, xmax, ymax) — one per
    cell of each polygon's bbox cover — as a local relation built from one
    Arrow table. With geometry=True the rows also carry the polygon as
    parts: array<struct<hole, edges: array<struct<x0, y0, x1, y1>>>>, in
    part order (the refine's later-part-wins rule depends on it)."""
    pids, bbox, cells, owner = [], [], [], []
    holes, part_offsets, edge_offsets = [], [0], [0]
    coords = []  # per part: (4, n_edges) array of x0, y0, x1, y1
    for k, (pid, parts) in enumerate(polys_parts):
        xs = [np.asarray(p[0], dtype=np.float64) for p in parts]
        ys = [np.asarray(p[1], dtype=np.float64) for p in parts]
        ax, ay = np.concatenate(xs), np.concatenate(ys)
        bb = (float(ax.min()), float(ay.min()), float(ax.max()), float(ay.max()))
        cids = index.cover_bbox(*bb)
        pids.append(int(pid))
        bbox.append(bb)
        cells += cids
        owner += [k] * len(cids)
        if geometry:
            for pxs, pys, (_, _, hole) in zip(xs, ys, parts):
                coords.append(np.stack([pxs[:-1], pys[:-1], pxs[1:], pys[1:]]))
                holes.append(bool(hole))
                edge_offsets.append(edge_offsets[-1] + coords[-1].shape[1])
            part_offsets.append(len(holes))

    bb = np.asarray(bbox, dtype=np.float64).reshape(-1, 4)
    cols = {"poly_id": pa.array(pids, pa.int64())}
    cols.update({c: bb[:, i] for i, c in enumerate(("xmin", "ymin", "xmax", "ymax"))})
    if geometry:
        xy = np.concatenate(coords, axis=1) if coords else np.empty((4, 0))
        edges = pa.StructArray.from_arrays(list(xy), fields=list(_EDGE))
        part = pa.StructArray.from_arrays(
            [pa.array(holes, pa.bool_()),
             pa.ListArray.from_arrays(pa.array(edge_offsets, pa.int32()), edges)],
            fields=list(_PART),
        )
        cols["parts"] = pa.ListArray.from_arrays(pa.array(part_offsets, pa.int32()), part)
    table = pa.table(cols).take(pa.array(owner, pa.int64()))
    return spark.createDataFrame(table.add_column(0, "cell_id", pa.array(cells, pa.int64())))


# Containment of (x, y) in one part `p`: parity of its edge crossings
# (poly_ops.rs:41-72). Edge `e` crosses when it straddles y and the point is
# strictly left of it going up, strictly right going down — is_left non-zero
# with the sign of y1 - y0 — so an edge through the point (is_left == 0)
# never counts. IF evaluates one branch: is_left is computed once per edge.
_IS_LEFT = "((e.x1 - e.x0) * (y - e.y0) - (x - e.x0) * (e.y1 - e.y0))"
_INSIDE = (
    "aggregate(p.edges, false, (c, e) -> c != ((e.y0 <= y) != (e.y1 <= y)"
    f" AND IF(e.y0 <= y, {_IS_LEFT} > 0, {_IS_LEFT} < 0)))"
)
# The hole flag of the last containing part decides (clip.rs:317-321): NULL
# when no part contains the point (dropped by the filter), false for a shell.
_KEEP = f"NOT aggregate(parts, CAST(NULL AS BOOLEAN), (h, p) -> IF({_INSIDE}, p.hole, h))"


def points_in_polygons(
    points: DataFrame,
    polys_parts: list,
    index: CellIndex,
    *,
    point_id: str = "point_id",
    x: str = "x",
    y: str = "y",
    broadcast: bool = True,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Containment join -> DataFrame(point_id, poly_id[, carry_cols...]).

    polys_parts: [(poly_id, [(xs, ys, is_hole), ...]), ...] — the decoded
    polygon side (small / broadcastable). carry_cols are passed through the
    join and refine untouched (e.g. a precomputed tile id; also what keeps
    streaming plans single-stream — no self-join to re-attach attributes).
    """
    cover = polygon_cover(points.sparkSession, polys_parts, index, geometry=True)
    cover = F.broadcast(cover) if broadcast else cover.hint("merge")

    carry = carry_cols or []
    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col(x).alias("x"),
        F.col(y).alias("y"),
        *[F.col(c) for c in carry],
    )
    # expressions as SQL text: one py4j call each instead of one per
    # Column operator (hundreds per query). ix/iy are clamped into the world,
    # as cover_bbox clamps the cover. A NULL coordinate gets cell -1, which no
    # cover row has: with a nullable key, Catalyst would add an IS NOT NULL
    # filter on it below the projection and parse each point's coordinates
    # again to evaluate it.
    cell_id = f"coalesce({index.cell_of_xy_sql('x', 'y')}, -1) AS cell_id"
    cand = pts.selectExpr("*", cell_id).join(cover, "cell_id")
    in_bbox = "x >= xmin AND x <= xmax AND y >= ymin AND y <= ymax"
    return cand.filter(f"{in_bbox} AND {_KEEP}").select("point_id", "poly_id", *carry)


def clip_points(
    points: DataFrame,
    polys_parts: list,
    index: CellIndex,
    *,
    point_id: str = "point_id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Clip, point case (gis_analysis/clip.rs:299-370): keep input points
    contained in ANY clip polygon (per-polygon hole/part order already
    applied by the refine). Input record order preserved (sort on point_id);
    FID renumbered sequentially from 1 (clip.rs:345-360) via the
    distributed range-partition + offset pattern — no single-partition
    global window. Left-semi join."""
    from whitebox_tools_spark.distributed import with_global_seq

    hits = points_in_polygons(
        points, polys_parts, index, point_id=point_id, x=x, y=y
    ).select("point_id").distinct()
    kept = points.join(
        hits.withColumnRenamed("point_id", point_id), point_id, "left_semi"
    )
    return with_global_seq(kept, [point_id], out_col="FID")


def erase_points(
    points: DataFrame,
    polys_parts: list,
    index: CellIndex,
    *,
    point_id: str = "point_id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Erase, point case (gis_analysis/erase.rs): drop points contained in
    any erase polygon — the anti-join dual of clip_points. FID renumbering
    uses the same distributed sequence pattern as clip_points."""
    from whitebox_tools_spark.distributed import with_global_seq

    hits = points_in_polygons(
        points, polys_parts, index, point_id=point_id, x=x, y=y
    ).select("point_id").distinct()
    kept = points.join(
        hits.withColumnRenamed("point_id", point_id), point_id, "left_anti"
    )
    return with_global_seq(kept, [point_id], out_col="FID")


def clip_lidar_to_polygon(points, polys_parts, index, *, erase: bool = False):
    """ClipLidarToPolygon / ErasePolygonFromLidar (lidar_analysis/
    clip_lidar_to_polygon.rs, erase_polygon_from_lidar.rs): the point
    clip/erase machinery over a cloud (all columns pass through)."""
    keep = clip_points(
        points.select("point_id", "x", "y"), polys_parts, index
    ) if not erase else erase_points(
        points.select("point_id", "x", "y"), polys_parts, index
    )
    return points.join(keep.select("point_id"), "point_id", "semi")


def select_tiles_by_polygon(tiles, polys_parts, index, *, cx: str = "cx", cy: str = "cy"):
    """SelectTilesByPolygon (lidar_analysis/select_tiles_by_polygon.rs):
    keep tiles whose center point falls inside any polygon."""
    from pyspark.sql import functions as F

    pts = tiles.select(
        F.col("tile").alias("point_id"), F.col(cx).alias("x"), F.col(cy).alias("y")
    )
    keep = clip_points(pts, polys_parts, index)
    return tiles.join(
        keep.select(F.col("point_id").alias("tile")), "tile", "semi"
    )
