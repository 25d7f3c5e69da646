"""kNN join / NN gridding / IDW vs brute-force oracle."""

import gc
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import CellIndex, GridSpec
from whitebox_tools_spark.operators.knn import idw_gridding, knn_join, nearest_neighbour_gridding

IDX = CellIndex(0.0, 0.0, 1000.0, 4)
GRID = GridSpec(west=0.0, north=1000.0, res_x=100.0, res_y=100.0, rows=10, cols=10)


def _points(spark, n=60, seed=5):
    rng = np.random.default_rng(seed)
    rows = [
        (i, float(x), float(y), float(z))
        for i, (x, y, z) in enumerate(
            np.column_stack([rng.uniform(0, 1000, (n, 2)), rng.uniform(0, 10, (n, 1))])
        )
    ]
    # duplicated point for tie exercise (same z)
    rows.append((n, rows[0][1], rows[0][2], rows[0][3]))
    return spark.createDataFrame(rows, "point_id long, x double, y double, z double"), rows


def _brute_knn(targets, pts, k):
    out = {}
    for tid, tx, ty in targets:
        d = sorted(
            ((px - tx) ** 2 + (py - ty) ** 2, pid, z) for pid, px, py, z in pts
        )
        out[tid] = d[:k]
    return out


def test_knn_join_exact(spark):
    pts_df, rows = _points(spark)
    rng = np.random.default_rng(9)
    targets = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 1000, (25, 2)))]
    tdf = spark.createDataFrame(targets, "target_id long, x double, y double")
    got = knn_join(tdf, pts_df, 3, IDX)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r.target_id, []).append((r.rank, r.dist_sq, r.point_id))
    brute = _brute_knn(targets, rows, 3)
    for tid, expected in brute.items():
        mine = sorted(got_map[tid])
        assert len(mine) == 3
        for (rank, dsq, pid), (bdsq, bpid, _) in zip(mine, expected):
            assert dsq == bdsq and pid == bpid, (tid, rank)


def test_nn_gridding_dense_output(spark):
    pts_df, rows = _points(spark)
    out = nearest_neighbour_gridding(pts_df, GRID, IDX, max_dist=1e18)
    vals = {(r.row, r.col): r.value for r in out.collect()}
    assert len(vals) == 100
    brute = _brute_knn(
        [(r * 10 + c, GRID.west + (c + 0.5) * 100.0, GRID.north - (r + 0.5) * 100.0)
         for r in range(10) for c in range(10)],
        rows, 1,
    )
    for tid, [(dsq, pid, z)] in brute.items():
        assert vals[(tid // 10, tid % 10)] == z


def test_nn_gridding_max_dist_nodata(spark):
    pts_df, _ = _points(spark, n=2)
    out = nearest_neighbour_gridding(pts_df, GRID, IDX, max_dist=50.0)
    vals = [r.value for r in out.collect()]
    assert vals.count(GRID.nodata) >= 90  # most cells have no point within 50


def test_idw_exact_hit_short_circuit(spark):
    # a point exactly on a cell center -> that cell takes the point's z
    rows = [(0, GRID.west + 0.5 * 100.0, GRID.north - 0.5 * 100.0, 42.0),
            (1, 500.0, 500.0, 7.0)]
    pts = spark.createDataFrame(rows, "point_id long, x double, y double, z double")
    out = {(r.row, r.col): r.value for r in
           idw_gridding(pts, GRID, IDX, weight=2.0, radius=0.0, min_points=2).collect()}
    assert out[(0, 0)] == 42.0


def test_idw_radius_then_min_points(spark):
    # idw_interpolation.rs:617-645: all points within the radius, or exactly
    # the min_points nearest when fewer are inside; both branches are hit
    pts_df, rows = _points(spark)
    out = {(r.row, r.col): r.value for r in
           idw_gridding(pts_df, GRID, IDX, radius=90.0, min_points=3).collect()}
    branches = set()
    for r in range(GRID.rows):
        for c in range(GRID.cols):
            tx, ty = GRID.west + (c + 0.5) * 100.0, GRID.north - (r + 0.5) * 100.0
            d = sorted(((px - tx) ** 2 + (py - ty) ** 2, pid, z) for pid, px, py, z in rows)
            sel = [e for e in d if e[0] ** 0.5 <= 90.0]
            branches.add(len(sel) >= 3)
            sel = sel if len(sel) >= 3 else d[:3]
            zero = [z for dsq, _, z in sel if dsq == 0.0]
            w = [1.0 / dsq for dsq, _, _ in sel]
            exp = min(zero) if zero else sum(z * wi for (_, _, z), wi in zip(sel, w)) / sum(w)
            assert abs(out[(r, c)] - exp) < 1e-9 * max(1.0, abs(exp)), (r, c)
    assert branches == {True, False}


def _check_knn(spark, targets, rows, k, index=IDX):
    tdf = spark.createDataFrame(targets, "target_id long, x double, y double")
    pdf = spark.createDataFrame(rows, "point_id long, x double, y double, z double")
    got = {}
    for r in knn_join(tdf, pdf, k, index).collect():
        got.setdefault(r.target_id, []).append((r.rank, r.dist_sq, r.point_id))
    for tid, expected in _brute_knn(targets, rows, k).items():
        mine = sorted(got.get(tid, []))
        assert [rank for rank, _, _ in mine] == list(range(1, len(expected) + 1)), tid
        assert [(d, p) for _, d, p in mine] == [(d, p) for d, p, _ in expected], tid


def test_knn_join_targets_outside_world(spark):
    # far outside: more than n cells from the world, so no ring of the
    # target's own cell reaches a point; just outside: past the top edge
    pts_df, rows = _points(spark)
    targets = [(0, -5000.0, 500.0), (1, 500.0, 2600.0), (2, 1000.5, -3.0), (3, 999.0, 1000.0)]
    _check_knn(spark, targets, rows, 3)
    # a target without coordinates has no neighbours
    tdf = spark.createDataFrame([(9, None, None)], "target_id long, x double, y double")
    assert knn_join(tdf, pts_df, 3, IDX).count() == 0


@pytest.mark.parametrize("k", [1, 6])
def test_knn_join_corner_clusters(spark, k):
    # Each target sits at the lower-left corner of its cell, and the points
    # that set its occupancy radius R sit at the far upper-right corner of
    # the R-square. The true k nearest lie E = ceil((R+1)*sqrt(2)) rings
    # out along an axis, so a smaller reach returns the corner cluster.
    s = IDX.cell_size
    eps = 0.01

    def cluster(base, x, y, dx, dy):
        return [(base + j, x + j * dx, y + j * dy, float(base + j)) for j in range(k)]

    rows = (
        # target 0 at cell (5, 5), R = 0: k points in its own far corner,
        # the k nearest in cell (3, 5), two rings out
        cluster(100, 6 * s - 0.5, 6 * s - 0.5, -eps, 0.0)
        + cluster(200, 4 * s - 0.5, 5 * s + 0.5, 0.0, eps)
        # target 1 at cell (11, 11), R = 1: k points in the far corner of
        # the diagonal cell (12, 12), the k nearest in cell (8, 11)
        + cluster(300, 13 * s - 0.5, 13 * s - 0.5, -eps, 0.0)
        + cluster(400, 9 * s - 0.5, 11 * s + 0.5, 0.0, eps)
    )
    targets = [(0, 5 * s + 0.5, 5 * s + 0.5), (1, 11 * s + 0.5, 11 * s + 0.5)]
    _check_knn(spark, targets, rows, k)


def test_knn_join_fewer_points_than_k(spark):
    rows = [(i, 100.0 + 200.0 * i, 900.0 - 150.0 * i, float(i)) for i in range(4)]
    targets = [(0, 10.0, 10.0), (1, 500.0, 500.0), (2, 1500.0, -20.0)]
    _check_knn(spark, targets, rows, 6)


def test_knn_join_above_occupancy_zoom(spark):
    # zoom 11: counts are kept at zoom-10 parent cells
    rng = np.random.default_rng(3)
    rows = [(i, float(x), float(y), 0.0) for i, (x, y) in enumerate(rng.uniform(100.0, 110.0, (80, 2)))]
    targets = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(99.0, 111.0, (12, 2)))]
    _check_knn(spark, targets, rows, 4, CellIndex(0.0, 0.0, 1000.0, 11))


def test_knn_calls_leave_nothing_persisted(spark):
    pts_df, _ = _points(spark)
    tdf = spark.createDataFrame([(0, 10.0, 20.0), (1, 700.0, 300.0)], "target_id long, x double, y double")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    knn_join(tdf, pts_df, 3, IDX).collect()
    nearest_neighbour_gridding(pts_df, GRID, IDX).collect()
    idw_gridding(pts_df, GRID, IDX, min_points=3).collect()
    idw_gridding(pts_df, GRID, IDX, radius=150.0, min_points=3).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_knn_join_job_count(spark):
    # a driver-side expansion loop would run several more jobs per round
    pts_df, rows = _points(spark)
    tdf = spark.createDataFrame([(0, 10.0, 20.0), (1, 700.0, 300.0)], "target_id long, x double, y double")
    sc = spark.sparkContext
    sc.setJobGroup("test_knn_join_job_count", "knn_join job count")
    try:
        knn_join(tdf, pts_df, 3, IDX).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # 2 for the occupancy count, 6 for the candidate query on these
    # size-unknown inputs (AQE turns the cell join into a broadcast at run time)
    assert len(sc.statusTracker().getJobIdsForGroup("test_knn_join_job_count")) <= 8


def _py4j_calls(fn) -> int:
    """py4j round trips that fn() makes from the calling thread. py4j's
    finalizer thread detaches garbage-collected JavaObjects on its own
    schedule, so its calls are left out, and earlier garbage is collected
    first."""
    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command
    me = threading.get_ident()
    calls = [0]

    def counted(self, command):
        calls[0] += threading.get_ident() == me
        return orig(self, command)

    gc.collect()
    ClientServerConnection.send_command = counted
    try:
        fn()
    finally:
        ClientServerConnection.send_command = orig
    return calls[0]


def test_nn_gridding_py4j_budget(spark):
    # each step is one SQL projection and Column call sites are not
    # captured (session.get_spark): ~250 round trips for a call that
    # took ~2 800 when every Column operator was its own py4j call (the
    # bound is ~1.5x the measured count)
    pts_df, _ = _points(spark)
    nearest_neighbour_gridding(pts_df, GRID, IDX).collect()  # warm the JVM-side lookups
    n = _py4j_calls(lambda: nearest_neighbour_gridding(pts_df, GRID, IDX).collect())
    assert n <= 375, n
