"""End-to-end PIP join: Spark operator vs pure-numpy oracle vs DuckDB SQL."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark import geometry as G, synth
from whitebox_tools_spark.grid import CellIndex
from whitebox_tools_spark.operators.pip import clip_points, erase_points, points_in_polygons

IDX = CellIndex(0.0, 0.0, 1000.0, 5)


@pytest.fixture(scope="module")
def polys():
    return synth.make_polygons()


def _reference_hits(keys, px, py, polys_parts):
    """Sorted (point_id, poly_id) containment pairs from geometry.point_in_parts."""
    return sorted(
        (int(k), pid) for pid, parts in polys_parts for k in keys[G.point_in_parts(px, py, parts)]
    )


def _numpy_oracle(keys, polys):
    return _reference_hits(keys, *synth.point_np(keys), synth.polygons_as_parts(polys))


def test_pip_matches_numpy_and_duckdb(spark, sf_dir, polys):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    x, y = synth.point_exprs(F.col("c_custkey"))
    pts = cust.select(F.col("c_custkey").alias("point_id"), x.alias("x"), y.alias("y"))
    got = sorted(
        (r.point_id, r.poly_id)
        for r in points_in_polygons(pts, synth.polygons_as_parts(polys), IDX).collect()
    )
    keys = np.array([r.point_id for r in pts.select("point_id").collect()])
    assert got == _numpy_oracle(keys, polys)

    xsql, ysql = synth.point_sql("c_custkey")
    cte = (
        f"SELECT c_custkey AS point_id, {xsql} AS x, {ysql} AS y "
        f"FROM '{sf_dir}/customer.parquet'"
    )
    duck = sorted(
        (int(a), int(b)) for a, b in duckdb.sql(synth.pip_oracle_sql(cte, polys)).fetchall()
    )
    assert duck == got


def test_pip_boundary_points_outside(spark, polys):
    # points exactly on every first-shell edge midpoint -> never inside that polygon
    rows = []
    for p in polys:
        xs, ys = np.asarray(p.parts[0].xs), np.asarray(p.parts[0].ys)
        for i in range(len(xs) - 1):
            rows.append((p.poly_id * 1000 + i, float((xs[i] + xs[i + 1]) / 2), float((ys[i] + ys[i + 1]) / 2), p.poly_id))
    df = spark.createDataFrame(rows, "point_id long, x double, y double, src_poly long")
    got = points_in_polygons(df, synth.polygons_as_parts(polys), IDX)
    joined = got.join(df, "point_id").filter(F.col("poly_id") == F.col("src_poly"))
    # kernel and reference agree that edge points are outside *that* polygon
    # (numpy kernel is the ground truth here; assert spark == numpy)
    keys = np.array([r[0] for r in rows])
    px = np.array([r[1] for r in rows])
    py = np.array([r[2] for r in rows])
    src = np.array([r[3] for r in rows])
    expect = 0
    for pid, parts in synth.polygons_as_parts(polys):
        m = src == pid
        expect += int(G.point_in_parts(px[m], py[m], parts).sum())
    assert joined.count() == expect


def test_pip_non_broadcast_path(spark, sf_dir, polys):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(200)
    x, y = synth.point_exprs(F.col("c_custkey"))
    pts = cust.select(F.col("c_custkey").alias("point_id"), x.alias("x"), y.alias("y"))
    a = sorted(
        (r.point_id, r.poly_id)
        for r in points_in_polygons(pts, synth.polygons_as_parts(polys), IDX, broadcast=True).collect()
    )
    shuffled = points_in_polygons(pts, synth.polygons_as_parts(polys), IDX, broadcast=False)
    b = sorted((r.point_id, r.poly_id) for r in shuffled.collect())
    assert a == b
    # the cover has exact size stats, so only the hint keeps this a shuffle join
    assert "BroadcastHashJoin" not in _executed_plan(shuffled)


def _executed_plan(df) -> str:
    """Executed (final adaptive) plan of a DataFrame that has been run."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_cover_is_local_relation(spark, sf_dir, polys):
    # the polygon side is an Arrow-built local relation, not pickled rows
    # (Scan ExistingRDD runs an unpickling job before every query)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    x, y = synth.point_exprs(F.col("c_custkey"))
    pts = cust.select(F.col("c_custkey").alias("point_id"), x.alias("x"), y.alias("y"))
    hits = points_in_polygons(pts, synth.polygons_as_parts(polys), IDX)
    hits.collect()
    plan = _executed_plan(hits)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_pip_edge_midpoints_match_numpy(spark, sf_dir, polys):
    # customer points plus the midpoint of every shell and hole edge
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    x, y = synth.point_exprs(F.col("c_custkey"))
    pts = cust.select(F.col("c_custkey").alias("point_id"), x.alias("x"), y.alias("y"))
    rows = []
    for p in polys:
        for k, part in enumerate(p.parts):
            xs, ys = np.asarray(part.xs), np.asarray(part.ys)
            rows += [
                (-(p.poly_id * 100_000 + k * 1000 + i + 1),
                 float((xs[i] + xs[i + 1]) / 2), float((ys[i] + ys[i + 1]) / 2))
                for i in range(len(xs) - 1)
            ]
    assert any(pt.is_hole for p in polys for pt in p.parts)
    edge_pts = spark.createDataFrame(rows, "point_id long, x double, y double")
    pts = pts.unionByName(edge_pts)
    parts = synth.polygons_as_parts(polys)
    got = sorted(tuple(r) for r in points_in_polygons(pts, parts, IDX).collect())
    ids, px, py = (np.array(c) for c in zip(*pts.collect()))
    assert got == _reference_hits(ids, px, py, parts)
    # the edge midpoints reach the refine and are not all decided one way
    n_edge_hits = sum(pid < 0 for pid, _ in got)
    assert 0 < n_edge_hits < len(rows)


# Two squares reaching past the world [0, 1000)^2: one over the east edge,
# one under the south edge (the cover clamps them into the border cells).
_EDGE_SQUARES = [
    (1, [(np.array([990.0, 1010.0, 1010.0, 990.0, 990.0]),
          np.array([500.0, 500.0, 520.0, 520.0, 500.0]), False)]),
    (2, [(np.array([10.0, 30.0, 30.0, 10.0, 10.0]),
          np.array([-20.0, -20.0, -5.0, -5.0, -20.0]), False)]),
]
_EDGE_POINTS = [
    (1, 1005.0, 505.0),   # east of the world, inside square 1
    (2, 20.0, -10.0),     # south of the world, inside square 2
    (3, 995.0, 510.0),    # in the world, inside square 1
    (4, 1020.0, 505.0),   # east of the world, outside both
    (5, 20.0, -30.0),     # south of the world, outside both
    (6, -5000.0, 510.0),  # far west, in the row of square 1
    (7, 500.0, 500.0),    # in the world, outside both
]


def test_pip_points_outside_world(spark):
    pts = spark.createDataFrame(_EDGE_POINTS, "point_id long, x double, y double")
    ids, px, py = (np.array(c) for c in zip(*_EDGE_POINTS))
    expect = _reference_hits(ids, px, py, _EDGE_SQUARES)
    assert expect == [(1, 1), (2, 2), (3, 1)]

    got = sorted(tuple(r) for r in points_in_polygons(pts, _EDGE_SQUARES, IDX).collect())
    assert got == expect
    inside = {k for k, _ in expect}
    clipped = sorted(r.point_id for r in clip_points(pts, _EDGE_SQUARES, IDX).collect())
    assert clipped == sorted(inside)
    erased = sorted(r.point_id for r in erase_points(pts, _EDGE_SQUARES, IDX).collect())
    assert erased == sorted(set(ids.tolist()) - inside)
