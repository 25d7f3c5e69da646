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

Plans are built from SQL text: each step is one selectExpr/where over the
grid's *_sql text and its one clamp (grid.clamp_sql), so building a call's
plan costs one py4j round trip per step rather than one per Column
operator; building the plan in Python, not running it in Spark, is where a
call spends most of its time. Only the reach table is computed in numpy.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import CellIndex, GridSpec, clamp_sql, double_sql

_OCC_ZOOM = 10  # occupancy is counted at this zoom or coarser: <= 4^10 cells


def _prep_points(points, index, point_id, px, py, z):
    """In-world points with their cell (__ix, __iy, __cell)."""
    hi = index.n - 1
    ix = index.ix_sql(f"`{px}`")
    iy = index.iy_sql(f"`{py}`")
    return points.selectExpr(
        f"`{point_id}` AS point_id",
        f"`{px}` AS px",
        f"`{py}` AS py",
        f"`{z}` AS z",
        f"{ix} AS __ix",
        f"{iy} AS __iy",
        f"{index.cell_id_sql(ix, iy)} AS __cell",
    ).where(f"__ix BETWEEN 0 AND {hi} AND __iy BETWEEN 0 AND {hi}")


def _reach_table(p: DataFrame, index: CellIndex, k: int) -> DataFrame:
    """(__occ, __reach) for every occupancy cell: __reach = (R+1)*2^shift
    index cells, R the smallest Chebyshev radius (in occupancy cells) whose
    world-clipped square around the cell holds >= k points."""
    shift = max(0, index.zoom - _OCC_ZOOM)
    m = index.n >> shift
    counts = (
        p.selectExpr(f"shiftright(__ix, {shift}) AS ox", f"shiftright(__iy, {shift}) AS oy")
        .groupBy("ox", "oy")
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
    # a target with a NULL coordinate keeps NULL cells and probes nothing
    t = targets.selectExpr("target_id", "tx", "ty", f"{index.ix_sql('tx')} AS __ix", f"{index.iy_sql('ty')} AS __iy")
    cx, cy = clamp_sql("__ix", hi), clamp_sql("__iy", hi)
    cols = [
        "target_id",
        "tx",
        "ty",
        f"{cx} AS __cx",
        f"{cy} AS __cy",
        f"greatest(abs(__ix - {cx}), abs(__iy - {cy})) AS __d0",
    ]
    reach = str(int(math.floor(radius / index.cell_size)) + 1 if radius > 0.0 else 0)
    if k > 0:
        shift = max(0, index.zoom - _OCC_ZOOM)
        cols.append(f"shiftright({cx}, {shift}) * {index.n >> shift} + shiftright({cy}, {shift}) AS __occ")
        reach = f"greatest({reach}, ceil((__reach + __d0) * {double_sql(math.sqrt(2.0))}))"
    t = t.selectExpr(*cols)
    if k > 0:
        t = t.join(F.broadcast(_reach_table(p, index, k)), "__occ")

    def span(c: str) -> str:
        return f"sequence({clamp_sql(f'{c} - __e', hi)}, {clamp_sql(f'{c} + __e', hi)})"

    probes = (
        t.selectExpr("target_id", "tx", "ty", "__cx", "__cy", f"{clamp_sql(reach, hi)} AS __e")
        .selectExpr("target_id", "tx", "ty", "__cy", "__e", f"explode({span('__cx')}) AS __nx")
        .selectExpr("target_id", "tx", "ty", "__nx", f"explode({span('__cy')}) AS __ny")
        .selectExpr("target_id", "tx", "ty", f"{index.cell_id_sql('__nx', '__ny')} AS __cell")
    )
    cand = probes.join(p.select("__cell", "point_id", "px", "py", "z"), "__cell").selectExpr(
        "target_id",
        "tx",
        "ty",
        "point_id",
        "px",
        "py",
        "z",
        "(px - tx) * (px - tx) + (py - ty) * (py - ty) AS dist_sq",
    )
    rank = "row_number() OVER (PARTITION BY target_id ORDER BY dist_sq, point_id) AS rank"
    if radius <= 0.0:
        return cand.selectExpr("*", rank).where(f"rank <= {k}")
    in_r = f"sqrt(dist_sq) <= {double_sql(radius)}"
    return (
        cand.selectExpr(
            "*", rank, f"count(CASE WHEN {in_r} THEN 1 END) OVER (PARTITION BY target_id) AS __n_in"
        )
        .where(f"(__n_in >= {k} AND {in_r}) OR (__n_in < {k} AND rank <= {k})")
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
    t = targets.selectExpr(f"`{target_id}` AS target_id", f"`{tx}` AS tx", f"`{ty}` AS ty")
    p = _prep_points(points, index, point_id, px, py, z)
    return _neighbours(t, p, index, k).selectExpr(
        "target_id", "point_id", "z", "dist_sq", "sqrt(dist_sq) AS dist", "rank"
    )


def _grid_targets(spark, grid: GridSpec) -> DataFrame:
    """All output cells (row, col, x, y, target_id) with centers at
    west+(col+0.5)*res_x, north-(row+0.5)*res_y — the exact IDW/NN center
    formula (idw_interpolation.rs:620-621); target_id = row*cols + col is
    the range id. Partition count scales with the grid (1 partition per
    ~256k cells) so small grids don't pay 32-task overhead and huge grids
    still parallelize."""
    n = grid.rows * grid.cols
    row, col = f"CAST(id / {grid.cols} AS BIGINT)", f"id % {grid.cols}"
    return spark.range(n, numPartitions=max(1, n // 262144)).selectExpr(
        f"{row} AS row",
        f"{col} AS col",
        f"{double_sql(grid.west)} + (CAST({col} AS DOUBLE) + 0.5E0) * {double_sql(grid.res_x)} AS x",
        f"{double_sql(grid.north)} - (CAST({row} AS DOUBLE) + 0.5E0) * {double_sql(grid.res_y)} AS y",
        "id AS target_id",
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
        targets.selectExpr("target_id", "x AS tx", "y AS ty"),
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
    targets = _grid_targets(points.sparkSession, grid)
    nn = _neighbours(
        targets.selectExpr("target_id", "x AS tx", "y AS ty"),
        _prep_points(points, index, point_id, px, py, z),
        index,
        1,
    ).where(f"sqrt(dist_sq) <= {double_sql(max_dist)}")
    return targets.join(nn.select("target_id", "z"), "target_id", "left").selectExpr(
        "row", "col", f"coalesce(z, {double_sql(grid.nodata)}) AS value"
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
    # reference guards `if dist > 0` before accumulating (idw_interpolation.rs:630-638)
    inv_w = f"power(sqrt(dist_sq), {double_sql(weight)})"
    idw = cand.groupBy("target_id").agg(
        F.expr("count(1) AS n_hits"),
        F.expr("min(CASE WHEN dist_sq = 0.0E0 THEN z END) AS zero_z"),
        F.expr(f"sum(CASE WHEN dist_sq > 0.0E0 THEN z / {inv_w} END) AS wz"),
        F.expr(f"sum(CASE WHEN dist_sq > 0.0E0 THEN 1.0E0 / {inv_w} END) AS w"),
    )
    out = idw.where(f"n_hits >= {max(min_points, 1)}").selectExpr(
        "target_id", "CASE WHEN zero_z IS NOT NULL THEN zero_z ELSE wz / w END AS value"
    )
    return targets.join(out, "target_id", "left").selectExpr(
        "row", "col", f"coalesce(value, {double_sql(grid.nodata)}) AS value"
    )
