"""kNN join, nearest-neighbour gridding and IDW interpolation (class NNI).

Re-answers the reference's FixedRadiusSearch-based interpolators:

  - FixedRadiusSearch2D: /root/reference/whitebox-common/src/structures/
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

Spark re-expression: the hash grid IS a cell index; a ring of bins IS an
exploded neighborhood equi-join on cell id; the expansion loop is a
driver-side iteration over a shrinking set of unresolved targets. The
neighborhood grows GEOMETRICALLY (annuli 0, 1, 2, 3-4, 5-8, 9-16, ...), so
sparse data converges in O(log max_ring) Spark jobs instead of one job per
ring. Neighbor offsets are joined via a small broadcast offsets table —
no O(ring^2)-sized expressions, whatever the annulus size.

A target is resolved once its kth candidate lies within R*cell_size after
the full disk of Chebyshev radius R has been explored — every unexplored
cell is then provably farther (this is the data-parallel form of
knn_search's keep-expanding-one-extra-ring rule).

Ties are pinned by (squared distance, point_id) so output is deterministic
(the reference's tie order is its bin-scan/insertion order; fixtures carry
equal values on ties — FIXTURES.md).

Scale notes: each iteration shuffles candidates only for the *unresolved*
targets (monotonically shrinking); candidate state is pruned to top-k per
iteration so it stays O(targets x k); localCheckpoint truncates iterative
lineage; AQE skew-join splits hot cells (Zipf occupancy).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import CellIndex, GridSpec
from whitebox_tools_spark.distributed import loop_checkpoint


def _with_cells(df: DataFrame, index: CellIndex, x: str, y: str) -> DataFrame:
    return df.withColumn("__ix", index.ix_expr(F.col(x))).withColumn(
        "__iy", index.iy_expr(F.col(y))
    )


def _prep_points(points, index, point_id, px, py, z):
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
        .withColumn("__cell", index.cell_id_expr(F.col("__ix"), F.col("__iy")))
        .drop("__ix", "__iy")
    )


def _annulus_offsets(spark, lo: int, hi: int) -> DataFrame:
    """Offsets with lo < max(|dx|, |dy|) <= hi (lo = -1 includes (0,0))."""
    d = np.arange(-hi, hi + 1, dtype=np.int32)
    dx, dy = (a.ravel() for a in np.meshgrid(d, d, indexing="ij"))
    ring = np.maximum(np.abs(dx), np.abs(dy))
    keep = (ring > lo) & (ring <= hi)
    # a local relation (Arrow), so the broadcast needs no unpickling job
    return spark.createDataFrame(pa.table({"dx": dx[keep], "dy": dy[keep]}))


def _candidates(targets: DataFrame, points: DataFrame, index: CellIndex, offsets: DataFrame) -> DataFrame:
    """Join targets x offsets (broadcast) -> neighbor cells -> points."""
    n = index.n
    t = (
        targets.crossJoin(F.broadcast(offsets))
        .withColumn("__nx", F.col("__ix") + F.col("dx"))
        .withColumn("__ny", F.col("__iy") + F.col("dy"))
        .filter((F.col("__nx") >= 0) & (F.col("__nx") < n) & (F.col("__ny") >= 0) & (F.col("__ny") < n))
        .withColumn("__cell", index.cell_id_expr(F.col("__nx"), F.col("__ny")))
        .select("target_id", "tx", "ty", "__ix", "__iy", "__cell")
    )
    return t.join(points, "__cell").select(
        "target_id",
        "tx",
        "ty",
        "__ix",
        "__iy",
        "point_id",
        "z",
        (
            (F.col("px") - F.col("tx")) * (F.col("px") - F.col("tx"))
            + (F.col("py") - F.col("ty")) * (F.col("py") - F.col("ty"))
        ).alias("dist_sq"),
    )


def _expansion_schedule(max_ring: int) -> list[int]:
    """Disk radii 2, 8, 32, ... max_ring (4x growth): fewer driver
    iterations (each costs several scheduling round-trips) at the price of
    moderate candidate fan-out on the shrinking unresolved set.

    No r=0 round: the resolve criterion demands kth-dist <= r*cell_size
    (the guaranteed-covered disk), which is unsatisfiable at r=0 — a
    zero-ring round can never resolve anything and is pure scheduling
    overhead (measured ~25% of nn_gridding wall time)."""
    out = []
    r = 2
    while r < max_ring:
        out.append(r)
        r *= 4
    out.append(max_ring)
    return sorted(set(out))


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
    max_ring: int | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbour join by iterative neighborhood expansion.

    Returns (target_id, point_id, z, dist_sq, dist, rank), rank 1..k by
    (dist_sq, point_id). Targets with fewer than k reachable points return
    what exists (best effort, like knn_search on a depleted index).
    """
    spark = targets.sparkSession
    if max_ring is None:
        max_ring = index.n

    t = _with_cells(
        targets.select(
            F.col(target_id).alias("target_id"),
            F.col(tx).alias("tx"),
            F.col(ty).alias("ty"),
        ),
        index,
        "tx",
        "ty",
    ).localCheckpoint(eager=True)
    p = _prep_points(points, index, point_id, px, py, z).localCheckpoint(eager=True)

    w = Window.partitionBy("target_id").orderBy("dist_sq", "point_id")
    unresolved = t
    topk = None
    done_parts = []
    prev_r = -1
    for r in _expansion_schedule(max_ring):
        offsets = _annulus_offsets(spark, prev_r, r)
        cand = _candidates(unresolved, p, index, offsets)
        if topk is not None:
            cand = topk.unionByName(cand)
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .drop("rank")
            .transform(loop_checkpoint)
        )
        reach = (r * index.cell_size) ** 2
        resolved_ids = (
            topk.groupBy("target_id")
            .agg(F.count(F.lit(1)).alias("__n"), F.max("dist_sq").alias("__kth"))
            .filter((F.col("__n") >= k) & (F.col("__kth") <= F.lit(reach)))
            .select("target_id")
        )
        # no checkpoint here: the schedule is O(log max_ring) rounds and
        # each done part reads from the already-checkpointed topk
        done_parts.append(topk.join(F.broadcast(resolved_ids), "target_id"))
        unresolved = unresolved.join(
            F.broadcast(resolved_ids), "target_id", "left_anti"
        ).transform(loop_checkpoint)
        topk = topk.join(F.broadcast(resolved_ids), "target_id", "left_anti")
        prev_r = r
        if unresolved.isEmpty():
            break
    else:
        if topk is not None:
            done_parts.append(topk)  # best effort: < k points reachable

    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.unionByName(part)
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("dist", F.sqrt(F.col("dist_sq")))
        .select("target_id", "point_id", "z", "dist_sq", "dist", "rank")
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
    spark = points.sparkSession
    targets = _grid_targets(spark, grid)
    p = _prep_points(points, index, point_id, px, py, z)

    cand = None
    if radius > 0.0:
        reach = int(math.floor(radius / index.cell_size)) + 1
        t = _with_cells(
            targets.select("target_id", F.col("x").alias("tx"), F.col("y").alias("ty")),
            index,
            "tx",
            "ty",
        )
        offsets = _annulus_offsets(spark, -1, reach)
        cand = (
            _candidates(t, p, index, offsets)
            .withColumn("dist", F.sqrt("dist_sq"))
            .filter(F.col("dist") <= F.lit(radius))
            .select("target_id", "point_id", "z", "dist_sq", "dist")
        )
        counts = cand.groupBy("target_id").agg(F.count(F.lit(1)).alias("__n"))
        satisfied = counts.filter(F.col("__n") >= min_points).select("target_id")
        cand = cand.join(F.broadcast(satisfied), "target_id").transform(loop_checkpoint)
        under = targets.join(
            F.broadcast(satisfied), "target_id", "left_anti"
        ).transform(loop_checkpoint)
    else:
        under = targets

    if min_points > 0 and not under.isEmpty():
        knn = knn_join(
            under,
            points,
            min_points,
            index,
            target_id="target_id",
            tx="x",
            ty="y",
            point_id=point_id,
            px=px,
            py=py,
            z=z,
        ).select("target_id", "point_id", "z", "dist_sq", "dist")
        cand = knn if cand is None else cand.unionByName(knn)

    if cand is None:
        raise ValueError("need radius > 0 or min_points > 0")

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
