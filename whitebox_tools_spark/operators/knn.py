"""kNN join, nearest-neighbour gridding and IDW interpolation (class NNI).

Re-answers the reference's FixedRadiusSearch-based interpolators:

  - FixedRadiusSearch2D: whitebox-common/src/structures/
    fixed_radius_search.rs — hash-grid binning (:58-77), fixed neighborhood
    scan (:98-120), knn_search expanding rings of bins until k found then one
    extra ring (:132-216); distances are true Euclidean (sqrt, :120,:211).
  - IdwInterpolation: whitebox-tools-app/src/tools/gis_analysis/
    idw_interpolation.rs:617-645 — cell centers at west+(col+0.5)*res_x /
    north-(row+0.5)*res_y; radius search, kNN fallback to exactly min_points
    when under-filled; weights 1/d^w; exact d=0 short-circuits to that
    point's value.
  - NearestNeighbourGridding: nearest_neighbour_gridding.rs:452-454 —
    knn_search(1), accept iff dist <= max_dist.

Spark re-expression: the hash grid IS a cell index, a ring of bins IS a
ring of neighbour cells, and every target's neighbour cells are probed in
ONE equi-join on cell id followed by one rank window — no driver loop.

knn_search's rule (expand rings until k points are found, then scan one
more ring, fixed_radius_search.rs:132-216) is made exact in closed form
from a per-cell occupancy count. One job counts the in-world points per
cell; on the Spark driver a summed-area table of those counts gives, for
every cell c, the smallest Chebyshev radius R(c) whose world-clipped square
of cells around c holds >= k points. A target t whose cell, clamped into the
world, is c, at Chebyshev distance d0 cells from c, then explores

    E = min(n-1, ceil((R + d0 + 1) * sqrt(2)))

rings around c. Proof, with s the cell size: per axis, every point of the
R-square lies within (R+1)*s of t clamped into the world and within d0*s
more of t itself, so within (R+d0+1)*sqrt(2)*s of t; the k-th neighbour is
at least that close. Clamping is 1-Lipschitz per axis and the points are
in-world, so a point that close to t is that close, per axis, to t
clamped, hence within E rings of c. Above zoom 10 the counts are kept at
the zoom-10 parent cells (at most 4^10), R is in parent cells and R+1
becomes (R+1)*2^(zoom-10) cells. When the world holds fewer than k points,
R = n-1 and every target sees the whole world (best effort, like
knn_search on a depleted index). Points outside the index world are
neither counted nor probed.

The radius + min_points rule of IdwInterpolation and the RBF interpolators
rides on the same round: each target explores max(radius reach, E) rings,
and one window decides per target between all points within the radius
(when at least min_points are) and exactly the min_points nearest.

Ties are pinned by (squared distance, point_id) so output is deterministic
(the reference's tie order is its bin-scan/insertion order; fixtures carry
equal values on ties — FIXTURES.md). A call runs the occupancy count and
the candidate query, and leaves nothing persisted.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import CellIndex, GridSpec

_OCC_ZOOM = 10  # occupancy is counted at this zoom or coarser: <= 4^10 cells


def _with_cells(df: DataFrame, index: CellIndex, x: str, y: str) -> DataFrame:
    return df.withColumn("__ix", index.ix_expr(F.col(x))).withColumn(
        "__iy", index.iy_expr(F.col(y))
    )


def _prep_points(points, index, point_id, px, py, z):
    """In-world points with their cell (__ix, __iy, __cell)."""
    hi = index.n - 1
    return (
        _with_cells(
            points.select(
                F.col(point_id).alias("point_id"),
                F.col(px).alias("px"),
                F.col(py).alias("py"),
                F.col(z).alias("z"),
            ),
            index,
            "px",
            "py",
        )
        .filter(F.col("__ix").between(0, hi) & F.col("__iy").between(0, hi))
        .withColumn("__cell", index.cell_id_expr(F.col("__ix"), F.col("__iy")))
    )


def _reach_table(p: DataFrame, index: CellIndex, k: int) -> DataFrame:
    """(__occ, __reach) for every occupancy cell: __reach = (R+1)*2^shift
    index cells, R the smallest Chebyshev radius (in occupancy cells) whose
    world-clipped square around the cell holds >= k points."""
    shift = max(0, index.zoom - _OCC_ZOOM)
    m = index.n >> shift
    counts = (
        p.groupBy(F.shiftright("__ix", shift).alias("ox"), F.shiftright("__iy", shift).alias("oy"))
        .count()
        .toArrow()
    )
    occ = np.zeros((m, m), dtype=np.int64)
    occ[counts["ox"].to_numpy(), counts["oy"].to_numpy()] = counts["count"].to_numpy()
    sat = np.zeros((m + 1, m + 1), dtype=np.int64)
    sat[1:, 1:] = occ.cumsum(0).cumsum(1)
    c = np.arange(m, dtype=np.int64)
    cx, cy = (a.ravel() for a in np.meshgrid(c, c, indexing="ij"))
    # per-cell binary search; R = m-1 (whole world) when it never reaches k
    lo, hi = np.zeros_like(cx), np.full_like(cx, m - 1)
    while (lo < hi).any():
        mid = (lo + hi) // 2
        x0, x1 = np.maximum(cx - mid, 0), np.minimum(cx + mid + 1, m)
        y0, y1 = np.maximum(cy - mid, 0), np.minimum(cy + mid + 1, m)
        ok = sat[x1, y1] - sat[x0, y1] - sat[x1, y0] + sat[x0, y0] >= k
        hi = np.where(ok, mid, hi)
        lo = np.where(ok, lo, mid + 1)
    table = pa.table({"__occ": cx * m + cy, "__reach": (lo + 1) << shift})
    return p.sparkSession.createDataFrame(table)


def _neighbours(
    targets: DataFrame, p: DataFrame, index: CellIndex, k: int, radius: float = 0.0
) -> DataFrame:
    """One candidate round: per target, every point within `radius` when at
    least k are, else exactly the k nearest (radius <= 0: the k nearest).

    targets = (target_id, tx, ty); p = _prep_points(...).
    -> (target_id, tx, ty, point_id, px, py, z, dist_sq, rank), rank by
    (dist_sq, point_id)."""
    hi = index.n - 1
    t = (
        _with_cells(targets, index, "tx", "ty")
        .dropna(subset=["__ix", "__iy"])  # greatest/least would clamp a NULL to 0
        .withColumn("__cx", F.least(F.greatest("__ix", F.lit(0)), F.lit(hi)))
        .withColumn("__cy", F.least(F.greatest("__iy", F.lit(0)), F.lit(hi)))
        .select(
            "target_id",
            "tx",
            "ty",
            "__cx",
            "__cy",
            F.greatest(
                F.abs(F.col("__ix") - F.col("__cx")), F.abs(F.col("__iy") - F.col("__cy"))
            ).alias("__d0"),
        )
    )
    reach = F.lit(int(math.floor(radius / index.cell_size)) + 1 if radius > 0.0 else 0)
    if k > 0:
        shift = max(0, index.zoom - _OCC_ZOOM)
        occ = F.shiftright("__cx", shift) * (index.n >> shift) + F.shiftright("__cy", shift)
        t = t.withColumn("__occ", occ).join(F.broadcast(_reach_table(p, index, k)), "__occ")
        reach = F.greatest(reach, F.ceil((F.col("__reach") + F.col("__d0")) * math.sqrt(2.0)))
    t = t.withColumn("__e", F.least(reach, F.lit(hi)))

    def span(c: str):
        e = F.col("__e")
        return F.sequence(F.greatest(F.col(c) - e, F.lit(0)), F.least(F.col(c) + e, F.lit(hi)))

    probes = (
        t.withColumn("__nx", F.explode(span("__cx")))
        .withColumn("__ny", F.explode(span("__cy")))
        .select(
            "target_id", "tx", "ty", index.cell_id_expr(F.col("__nx"), F.col("__ny")).alias("__cell")
        )
    )
    cand = probes.join(p.select("__cell", "point_id", "px", "py", "z"), "__cell").select(
        "target_id",
        "tx",
        "ty",
        "point_id",
        "px",
        "py",
        "z",
        (
            (F.col("px") - F.col("tx")) * (F.col("px") - F.col("tx"))
            + (F.col("py") - F.col("ty")) * (F.col("py") - F.col("ty"))
        ).alias("dist_sq"),
    )
    w = Window.partitionBy("target_id")
    ranked = cand.withColumn("rank", F.row_number().over(w.orderBy("dist_sq", "point_id")))
    if radius <= 0.0:
        return ranked.filter(F.col("rank") <= k)
    in_r = F.sqrt("dist_sq") <= F.lit(radius)
    n_in = F.count(F.when(in_r, 1)).over(w)
    return (
        ranked.withColumn("__n_in", n_in)
        .filter(((F.col("__n_in") >= k) & in_r) | ((F.col("__n_in") < k) & (F.col("rank") <= k)))
        .drop("__n_in")
    )


def knn_join(
    targets: DataFrame,
    points: DataFrame,
    k: int,
    index: CellIndex,
    *,
    target_id: str = "target_id",
    tx: str = "x",
    ty: str = "y",
    point_id: str = "point_id",
    px: str = "x",
    py: str = "y",
    z: str = "z",
) -> DataFrame:
    """Exact k-nearest-neighbour join in one candidate round.

    Returns (target_id, point_id, z, dist_sq, dist, rank), rank 1..k by
    (dist_sq, point_id). When the world holds fewer than k points, every
    target gets all of them (best effort, like knn_search on a depleted
    index).
    """
    t = targets.select(
        F.col(target_id).alias("target_id"),
        F.col(tx).alias("tx"),
        F.col(ty).alias("ty"),
    )
    p = _prep_points(points, index, point_id, px, py, z)
    return _neighbours(t, p, index, k).select(
        "target_id", "point_id", "z", "dist_sq", F.sqrt("dist_sq").alias("dist"), "rank"
    )


def _grid_targets(spark, grid: GridSpec) -> DataFrame:
    """All output cells with centers at west+(col+0.5)*res_x,
    north-(row+0.5)*res_y — the exact IDW/NN center formula
    (idw_interpolation.rs:620-621). Partition count scales with the grid
    (1 partition per ~256k cells) so small grids don't pay 32-task overhead
    and huge grids still parallelize."""
    n = grid.rows * grid.cols
    return (
        spark.range(n, numPartitions=max(1, n // 262144))
        .select(
            (F.col("id") / grid.cols).cast("long").alias("row"),
            (F.col("id") % grid.cols).alias("col"),
        )
        .withColumn(
            "x",
            F.lit(grid.west) + (F.col("col").cast("double") + F.lit(0.5)) * F.lit(grid.res_x),
        )
        .withColumn(
            "y",
            F.lit(grid.north) - (F.col("row").cast("double") + F.lit(0.5)) * F.lit(grid.res_y),
        )
        .withColumn("target_id", F.col("row") * F.lit(grid.cols).cast("long") + F.col("col"))
    )


def _grid_neighbours(points, grid, index, *, radius, min_points, point_id, px, py, z):
    """(targets, cand) for the gridding interpolators (IDW, RBF): per output
    cell, all points within `radius` of its center; if fewer than
    min_points, exactly the min_points nearest (idw_interpolation.rs:
    617-645). cand = (target_id, tx, ty, point_id, px, py, z, dist_sq, rank).
    """
    if radius <= 0.0 and min_points <= 0:
        raise ValueError("need radius > 0 or min_points > 0")
    targets = _grid_targets(points.sparkSession, grid)
    cand = _neighbours(
        targets.select("target_id", F.col("x").alias("tx"), F.col("y").alias("ty")),
        _prep_points(points, index, point_id, px, py, z),
        index,
        min_points,
        radius,
    )
    return targets, cand


def nearest_neighbour_gridding(
    points: DataFrame,
    grid: GridSpec,
    index: CellIndex,
    *,
    point_id: str = "point_id",
    px: str = "x",
    py: str = "y",
    z: str = "z",
    max_dist: float = math.inf,
) -> DataFrame:
    """Dense (row, col, value) raster: nearest point's value per cell center,
    nodata where no point within max_dist (nearest_neighbour_gridding.rs:452-454)."""
    spark = points.sparkSession
    targets = _grid_targets(spark, grid)
    nn = knn_join(
        targets,
        points,
        1,
        index,
        target_id="target_id",
        tx="x",
        ty="y",
        point_id=point_id,
        px=px,
        py=py,
        z=z,
    ).filter(F.col("dist") <= F.lit(max_dist))
    return targets.join(nn.select("target_id", "z"), "target_id", "left").select(
        "row",
        "col",
        F.coalesce(F.col("z"), F.lit(grid.nodata)).alias("value"),
    )


def idw_gridding(
    points: DataFrame,
    grid: GridSpec,
    index: CellIndex,
    *,
    point_id: str = "point_id",
    px: str = "x",
    py: str = "y",
    z: str = "z",
    weight: float = 2.0,
    radius: float = 0.0,
    min_points: int = 0,
) -> DataFrame:
    """IDW surface (idw_interpolation.rs:617-645):
      1. all points within `radius` of the cell center;
      2. if fewer than min_points, exactly the min_points nearest;
      3. value = sum(z/d^w) / sum(1/d^w); an exact d=0 hit short-circuits
         to that z (duplicate fixture points carry equal z, FIXTURES.md).
    Cells still under min_points get nodata.
    """
    targets, cand = _grid_neighbours(
        points, grid, index, radius=radius, min_points=min_points, point_id=point_id, px=px, py=py, z=z
    )
    cand = cand.withColumn("dist", F.sqrt("dist_sq"))
    idw = cand.groupBy("target_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min(F.when(F.col("dist_sq") == 0.0, F.col("z"))).alias("zero_z"),
        # reference guards `if dist > 0` before accumulating (idw_interpolation.rs:630-638)
        F.sum(F.when(F.col("dist_sq") > 0.0, F.col("z") / F.pow(F.col("dist"), F.lit(weight)))).alias("wz"),
        F.sum(F.when(F.col("dist_sq") > 0.0, F.lit(1.0) / F.pow(F.col("dist"), F.lit(weight)))).alias("w"),
    )
    value = F.when(F.col("zero_z").isNotNull(), F.col("zero_z")).otherwise(
        F.col("wz") / F.col("w")
    )
    out = idw.filter(F.col("n_hits") >= F.lit(max(min_points, 1))).select(
        "target_id", value.alias("value")
    )
    return targets.join(out, "target_id", "left").select(
        "row", "col", F.coalesce(F.col("value"), F.lit(grid.nodata)).alias("value")
    )
