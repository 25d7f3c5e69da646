"""Radial basis function interpolation.

RadialBasisFunctionInterpolation
(gis_analysis/radial_basis_function_interpolation.rs:560-596) and
LidarRbfInterpolation
(lidar_analysis/lidar_radial_basis_function_interpolation.rs) — both drive
the same per-cell scheme:

  1. neighbors = all points within `radius` of the cell center; if fewer
     than `min_points`, exactly the `min_points` nearest instead
     (radius_bas….rs:570-576);
  2. fit an RBF system over the neighbors
     (whitebox-common/src/structures/radial_basis_function.rs:52-146:
     basis matrix + optional constant/affine polynomial augmentation,
     solved with an SVD pseudo-inverse at ABSOLUTE singular-value cutoff
     1e-6) and evaluate it at the cell center;
  3. keep the value only when it lies within 10x the data range of the
     data midpoint (rs:480-481,588: |z - mid| < (2*range)*5), else nodata.

Spark-first shape: the neighbor search is the SAME distributed machinery
as IDW gridding (knn._grid_neighbours: one cell-cover equi-join whose reach
comes from a per-cell occupancy count, then one window that picks the
radius set or the min_points nearest; no quadratic pairing, no driver
loops over cells), and the dense per-cell solve (n ~ min_points..tens, so
an n x n system of order tens) runs as an Arrow-batched numpy kernel over
collected neighbor lists.
Neighbors are ordered deterministically by (dist_sq, point_id) before the
solve so the output is partitioning-invariant; the reference's kd-tree
return order is arbitrary, and the solved surface is order-independent in
exact arithmetic, so the ordering is a determinism choice, not a semantic
deviation.

At 100 TB: candidate volume is O(cells x points-per-radius) via bounded
cell-cover equi-joins (shuffle on cell ids, AQE-skew-safe); the solve is
O(n^3) per cell with n bounded by the neighborhood — embarrassingly
parallel, no global state, no collect.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..grid import CellIndex, GridSpec
from .knn import _grid_neighbours

_BASES = (
    "thin_plate_spline",
    "polyharmonic",
    "gaussian",
    "multiquadric",
    "inverse_multiquadric",
)


def basis_eval(r: np.ndarray, func_type: str, c: float) -> np.ndarray:
    """Basis::eval (radial_basis_function.rs:19-39), vectorized."""
    r = np.asarray(r, dtype=np.float64)
    if func_type == "thin_plate_spline":
        s = c * c + r * r
        return s * np.log(s)
    if func_type == "polyharmonic":
        n = int(c)
        if n % 2 == 0:
            with np.errstate(divide="ignore", invalid="ignore"):
                out = np.where(r < 1e-12, 0.0, r**n * np.log(np.maximum(r, 1e-300)))
            return out
        return r**n
    if func_type == "gaussian":
        return np.exp(-((r / c) ** 2))
    if func_type == "multiquadric":
        return np.hypot(r, c)
    if func_type == "inverse_multiquadric":
        return (r * r + c * c) ** -0.5
    raise ValueError(f"unknown basis {func_type!r}; one of {_BASES}")


def rbf_solve_eval(
    nx: np.ndarray,
    ny: np.ndarray,
    nz: np.ndarray,
    tx: float,
    ty: float,
    func_type: str,
    weight: float,
    poly_order: int,
) -> float:
    """Create + eval one RBF system (radial_basis_function.rs:52-146).

    Pseudo-inverse with ABSOLUTE singular-value cutoff 1e-6, matching
    nalgebra's `svd.pseudo_inverse(1e-6)`; numpy's pinv uses a relative
    rcond, so the SVD is assembled by hand."""
    n = len(nx)
    pts = np.stack([np.asarray(nx, float), np.asarray(ny, float)], axis=1)
    vals = np.asarray(nz, dtype=np.float64)
    d = np.sqrt(
        (pts[:, None, 0] - pts[None, :, 0]) ** 2
        + (pts[:, None, 1] - pts[None, :, 1]) ** 2
    )
    n_aug = n + (0 if poly_order == 0 else 1 if poly_order == 1 else 3)
    mat = np.zeros((n_aug, n_aug))
    mat[:n, :n] = basis_eval(d, func_type, weight)
    means = np.zeros(2)
    if poly_order >= 1:
        mat[:n, n] = 1.0
        mat[n, :n] = 1.0
    if poly_order == 2:
        # mean-centering translation (rs:97-107) keeps the pseudo-inverse
        # minimizing the linear coefficients on degenerate systems
        means = pts.mean(axis=0)
        mat[:n, n + 1 : n + 3] = pts - means
        mat[n + 1 : n + 3, :n] = (pts - means).T
    u, s, vt = np.linalg.svd(mat)
    s_inv = np.where(s > 1e-6, 1.0 / np.where(s > 1e-6, s, 1.0), 0.0)
    inv = vt.T @ (s_inv[:, None] * u.T)
    b = np.zeros(n_aug)
    b[:n] = vals
    deltas = inv @ b
    if poly_order == 2:
        deltas[n] -= means @ deltas[n + 1 : n + 3]
    rv = np.hypot(pts[:, 0] - tx, pts[:, 1] - ty)
    phi = np.empty(n_aug)
    phi[:n] = basis_eval(rv, func_type, weight)
    if poly_order >= 1:
        phi[n] = 1.0
    if poly_order == 2:
        phi[n + 1] = tx
        phi[n + 2] = ty
    return float(deltas @ phi)


def rbf_interpolation(
    points: DataFrame,
    grid: GridSpec,
    index: CellIndex,
    *,
    radius: float,
    min_points: int = 0,
    func_type: str = "thin_plate_spline",
    weight: float = 0.1,
    poly_order: int = 0,
    point_id: str = "point_id",
    px: str = "x",
    py: str = "y",
    z: str = "z",
) -> DataFrame:
    """Dense (row, col, value) RBF surface; nodata where no neighbors or
    where the range gate rejects the estimate (rs:588-591)."""
    if func_type not in _BASES:
        raise ValueError(f"unknown basis {func_type!r}")
    targets, cand = _grid_neighbours(
        points,
        grid,
        index,
        radius=radius,
        min_points=min_points,
        point_id=point_id,
        px=px,
        py=py,
        z=z,
    )
    # global range gate constants (rs:480-481): one tiny aggregate,
    # broadcast into the plan
    stats = points.agg(
        F.min(F.col(z)).alias("__zmin"), F.max(F.col(z)).alias("__zmax")
    )

    grouped = cand.groupBy("target_id").agg(
        F.first("tx").alias("tx"),
        F.first("ty").alias("ty"),
        F.sort_array(
            F.collect_list(F.struct("dist_sq", "point_id", "px", "py", "z"))
        ).alias("nbrs"),
    )

    ft, w, po = func_type, float(weight), int(poly_order)

    def _solve(batches):
        import pandas as pd

        for pdf in batches:
            out_t, out_v = [], []
            for tid, tx, ty, nbrs in zip(
                pdf["target_id"], pdf["tx"], pdf["ty"], pdf["nbrs"]
            ):
                nx = np.array([r["px"] for r in nbrs])
                ny = np.array([r["py"] for r in nbrs])
                nz = np.array([r["z"] for r in nbrs])
                out_t.append(tid)
                out_v.append(rbf_solve_eval(nx, ny, nz, tx, ty, ft, w, po))
            yield pd.DataFrame({"target_id": out_t, "value": out_v})

    solved = grouped.mapInPandas(_solve, "target_id long, value double")
    gated = (
        solved.crossJoin(F.broadcast(stats))
        .withColumn("__mid", (F.col("__zmin") + F.col("__zmax")) / 2.0)
        .withColumn("__rng", F.col("__zmax") - F.col("__zmin"))
        .filter(
            F.abs(F.col("value") - F.col("__mid")) < F.lit(10.0) * F.col("__rng")
        )
        .select("target_id", "value")
    )
    return targets.join(gated, "target_id", "left").select(
        "row",
        "col",
        F.coalesce(F.col("value"), F.lit(grid.nodata)).alias("value"),
    )


# ---------------------------------------------------------------------------
# Independent transcription for oracles/tests: pure-python Gaussian
# elimination with partial pivoting (vs the engine's SVD pseudo-inverse) —
# a genuinely different solve algorithm; on the nonsingular fixture
# systems both recover the same mathematical solution.
# ---------------------------------------------------------------------------
def rbf_reference_cell(
    pts: list[tuple[float, float, float]],
    tx: float,
    ty: float,
    func_type: str,
    weight: float,
    poly_order: int,
) -> float:
    def phi(r):
        if func_type == "thin_plate_spline":
            s = weight * weight + r * r
            return s * math.log(s)
        if func_type == "polyharmonic":
            n = int(weight)
            if n % 2 == 0:
                return 0.0 if r < 1e-12 else r**n * math.log(r)
            return r**n
        if func_type == "gaussian":
            return math.exp(-((r / weight) ** 2))
        if func_type == "multiquadric":
            return math.hypot(r, weight)
        return (r * r + weight * weight) ** -0.5

    n = len(pts)
    n_aug = n + (0 if poly_order == 0 else 1 if poly_order == 1 else 3)
    mx = sum(p[0] for p in pts) / n if poly_order == 2 else 0.0
    my = sum(p[1] for p in pts) / n if poly_order == 2 else 0.0
    A = [[0.0] * (n_aug + 1) for _ in range(n_aug)]
    for i in range(n):
        for j in range(n):
            A[i][j] = phi(math.hypot(pts[i][0] - pts[j][0], pts[i][1] - pts[j][1]))
        if poly_order >= 1:
            A[i][n] = 1.0
            A[n][i] = 1.0
        if poly_order == 2:
            A[i][n + 1] = pts[i][0] - mx
            A[i][n + 2] = pts[i][1] - my
            A[n + 1][i] = pts[i][0] - mx
            A[n + 2][i] = pts[i][1] - my
        A[i][n_aug] = pts[i][2]
    # Gaussian elimination, partial pivoting
    for c in range(n_aug):
        piv = max(range(c, n_aug), key=lambda r: abs(A[r][c]))
        A[c], A[piv] = A[piv], A[c]
        if abs(A[c][c]) < 1e-300:
            continue
        for r in range(n_aug):
            if r != c and A[r][c] != 0.0:
                f = A[r][c] / A[c][c]
                for k in range(c, n_aug + 1):
                    A[r][k] -= f * A[c][k]
    deltas = [A[i][n_aug] / A[i][i] if A[i][i] != 0.0 else 0.0 for i in range(n_aug)]
    if poly_order == 2:
        deltas[n] -= mx * deltas[n + 1] + my * deltas[n + 2]
    val = sum(
        deltas[i] * phi(math.hypot(pts[i][0] - tx, pts[i][1] - ty)) for i in range(n)
    )
    if poly_order >= 1:
        val += deltas[n]
    if poly_order == 2:
        val += deltas[n + 1] * tx + deltas[n + 2] * ty
    return val
