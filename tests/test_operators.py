"""Operator-level tests: zonal, extract, tiling, raster math, vector ops."""

import math

import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import GridSpec
from whitebox_tools_spark.operators import raster_math as RM
from whitebox_tools_spark.operators.extract import extract_raster_values_at_points
from whitebox_tools_spark.operators.tiling import aggregate_raster, assign_tiles, block_gridding, tile_counts
from whitebox_tools_spark.operators.vector_ops import join_tables, merge_vectors, polygon_metrics
from whitebox_tools_spark.operators.zonal import zonal_statistics

GRID = GridSpec(west=0.0, north=100.0, res_x=10.0, res_y=10.0, rows=10, cols=10)


def test_zonal_statistics_semantics(spark):
    rows = [(1, 2.0), (1, 4.0), (1, 9.0), (2, 5.0), (2, 7.0), (3, 1.0)]
    df = spark.createDataFrame(rows, "zone_id int, value double")
    out = {r.zone_id: r for r in zonal_statistics(df).collect()}
    z1 = out[1]
    assert z1.n == 3 and z1.total == 15.0 and z1.min_v == 2.0 and z1.max_v == 9.0
    assert z1.median == 4.0  # odd count -> lower middle
    assert abs(z1.sd - 3.605551275463989) < 1e-12  # sample sd (n-1)
    z2 = out[2]
    assert z2.median == 6.0  # even count -> mean of middles
    assert out[3].sd == 0.0  # n=1 -> reference leaves 0 (zonal_statistics.rs:448-450)


def test_extract_raster_values(spark):
    cells = spark.createDataFrame(
        [(0, 0, 1.5), (9, 9, 2.5)], "row long, col long, value double"
    )
    pts = spark.createDataFrame(
        [(1, 5.0, 95.0), (2, 95.0, 5.0), (3, 500.0, 5.0)],  # 3 is out of grid
        "point_id long, x double, y double",
    )
    out = {r.point_id: r.value1 for r in
           extract_raster_values_at_points(pts, cells, GRID).collect()}
    assert out[1] == 1.5 and out[2] == 2.5
    assert out[3] == GRID.nodata  # OOB kept with nodata (extract_raster_values_at_points.rs:252-265)


def test_tile_assignment_reference_formula(spark):
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 99.5, 99.5), (3, 50.0, 50.0)],
        "point_id long, x double, y double",
    )
    tiled = assign_tiles(
        pts, width=50.0, height=50.0, origin_x=0.0, origin_y=0.0,
        min_x=0.5, min_y=0.5, max_x=99.5, max_y=99.5,
    )
    got = {r.point_id: (r.tile_col, r.tile_row, r.tile) for r in tiled.collect()}
    # start_grid = 0, cols = 2: point 1 -> (0,0,0); 2 -> (1,1,3); 3 -> (1,1,3)
    assert got[1] == (0, 0, 0)
    assert got[2] == (1, 1, 3)
    assert got[3] == (1, 1, 3)
    counts = {r.tile: r.n_points for r in tile_counts(tiled).collect()}
    assert counts == {0: 1, 3: 2}
    assert tile_counts(tiled, min_points=2).count() == 1


def test_block_gridding_and_aggregate(spark):
    pts = spark.createDataFrame(
        [(5.0, 95.0, 3.0), (6.0, 94.0, 7.0), (15.0, 95.0, 1.0)],
        "x double, y double, z double",
    )
    out = {(r.row, r.col): r.value for r in block_gridding(pts, GRID, agg="max").collect()}
    assert out[(0, 0)] == 7.0 and out[(0, 1)] == 1.0
    cells = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 3.0), (1, 0, 5.0), (1, 1, 7.0), (2, 2, 10.0)],
        "row long, col long, value double",
    )
    agg = {(r.row, r.col): r.value for r in aggregate_raster(cells, agg_factor=2).collect()}
    assert agg[(0, 0)] == 4.0 and agg[(1, 1)] == 10.0


def test_raster_math_map_zip(spark):
    a = spark.createDataFrame([(0, 0, -4.0), (0, 1, 9.0), (1, 0, None)],
                              "row long, col long, value double")
    b = spark.createDataFrame([(0, 0, 2.0), (0, 1, 3.0), (1, 0, 1.0)],
                              "row long, col long, value double")
    out = {(r.row, r.col): r.value for r in RM.apply_map(a, "abs").collect()}
    assert out[(0, 0)] == 4.0 and out[(1, 0)] is None  # nodata propagates
    out = {(r.row, r.col): r.value for r in RM.combine(a, b, "add").collect()}
    assert out[(0, 0)] == -2.0 and out[(1, 0)] is None
    out = {(r.row, r.col): r.value for r in RM.scalar_op(a, "greater_than", 0.0).collect()}
    assert out[(0, 1)] == 1.0 and out[(0, 0)] == 0.0
    out = {(r.row, r.col): r.value
           for r in RM.reclass(a, [(100.0, -10.0, 0.0), (200.0, 0.0, 10.0)]).collect()}
    assert out[(0, 0)] == 100.0 and out[(0, 1)] == 200.0
    out = {(r.row, r.col): r.value for r in RM.convert_nodata_to_zero(a).collect()}
    assert out[(1, 0)] == 0.0


def test_polygon_metrics(spark):
    parts = spark.createDataFrame(
        [
            (1, 0, False, [0.0, 0.0, 5.0, 5.0, 0.0], [0.0, 5.0, 5.0, 0.0, 0.0]),
            (1, 1, True, [1.0, 3.0, 3.0, 1.0, 1.0], [1.0, 1.0, 3.0, 3.0, 1.0]),
        ],
        "poly_id long, part_idx int, is_hole boolean, xs array<double>, ys array<double>",
    )
    m = polygon_metrics(parts).collect()[0]
    assert m.area == 25.0 - 4.0
    assert m.perimeter == 20.0 + 8.0
    assert (m.cx, m.cy) == (2.5, 2.5)
    assert abs(m.compactness - 28.0 / (2 * math.sqrt(math.pi) * math.sqrt(21.0))) < 1e-12


def test_join_merge(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    j = join_tables(cust, nation, "c_nationkey", "n_nationkey", ["n_name"])
    assert j.count() == cust.count()
    assert j.filter(F.col("n_name").isNull()).count() == 0
    m = merge_vectors([cust.limit(10), cust.limit(5)])
    assert m.count() == 15


def test_mosaic(spark):
    a = spark.createDataFrame([(0, 0, 1.0), (0, 1, 2.0)], "row long, col long, value double")
    b = spark.createDataFrame([(0, 1, 9.0), (1, 1, 4.0)], "row long, col long, value double")
    out = {(r.row, r.col): r.value for r in RM.mosaic([a, b], method="last").collect()}
    assert out == {(0, 0): 1.0, (0, 1): 9.0, (1, 1): 4.0}
    out = {(r.row, r.col): r.value for r in RM.mosaic([a, b], method="first").collect()}
    assert out[(0, 1)] == 2.0


def test_minimum_bounding_box(spark):
    from whitebox_tools_spark.operators.vector_ops import minimum_bounding_box_per_feature

    # rotated 2x1 rectangle at 45 degrees: MBB area must be ~2, not bbox 4.5
    import math
    c, s = math.cos(math.pi / 4), math.sin(math.pi / 4)
    base = [(0.0, 0.0), (2.0, 0.0), (2.0, 1.0), (0.0, 1.0), (0.0, 0.0)]
    xs = [x * c - y * s for x, y in base]
    ys = [x * s + y * c for x, y in base]
    parts = spark.createDataFrame(
        [(1, 0, False, xs, ys)],
        "poly_id long, part_idx int, is_hole boolean, xs array<double>, ys array<double>",
    )
    r = minimum_bounding_box_per_feature(parts).collect()[0]
    assert abs(r.mbb_area - 2.0) < 1e-9
    assert len(r.mbb_xs) == 4


def test_modified_kmeans_matches_serial(spark):
    """Serial python transcription of the same deterministic contract
    (min-id seeding, 9-dp centroid rounding, lexicographic ties, union-find
    merge of centres under merge_dist)."""
    import numpy as np

    from whitebox_tools_spark.operators.ml import modified_kmeans

    rng = np.random.default_rng(13)
    centers = np.array([[0.0, 0.0], [4.0, 4.0], [4.2, 4.2], [9.0, 0.0]])
    pts = []
    for i in range(120):
        c = centers[i % 4]
        pts.append((i, float(c[0] + rng.normal(0, 0.2)),
                    float(c[1] + rng.normal(0, 0.2))))
    df = spark.createDataFrame(pts, "vec_id long, f0 double, f1 double")
    got = {r.vec_id: r.cluster for r in
           modified_kmeans(df, ["f0", "f1"], id_col="vec_id",
                           start_clusters=8, merge_dist=1.0, iters=5).collect()}

    data = {i: (x, y) for i, x, y in pts}
    cent = [(i, 1.0, *data[i]) for i in range(8)]

    def merge(rows, md):
        rows = sorted(rows)
        parent = {r[0]: r[0] for r in rows}

        def find(u):
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                if (rows[i][2] - rows[j][2]) ** 2 + (rows[i][3] - rows[j][3]) ** 2 < md * md:
                    ra, rb = find(rows[i][0]), find(rows[j][0])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        groups = {}
        for r in rows:
            groups.setdefault(find(r[0]), []).append(r)
        out = []
        for gid in sorted(groups):
            mem = groups[gid]
            tot = sum(m[1] for m in mem)
            out.append((min(m[0] for m in mem), tot,
                        round(sum(m[1] * m[2] for m in mem) / tot, 9),
                        round(sum(m[1] * m[3] for m in mem) / tot, 9)))
        return out

    for _ in range(5):
        assign = {}
        for i, (x, y) in data.items():
            best = min(((x - cx) ** 2 + (y - cy) ** 2, cl) for cl, _n, cx, cy in cent)
            assign[i] = best[1]
        rows = []
        for cl in sorted({v for v in assign.values()}):
            mem = [data[i] for i in assign if assign[i] == cl]
            rows.append((cl, float(len(mem)),
                         round(sum(m[0] for m in mem) / len(mem), 9),
                         round(sum(m[1] for m in mem) / len(mem), 9)))
        cent = merge(rows, 1.0)
    want = {}
    for i, (x, y) in data.items():
        best = min(((x - cx) ** 2 + (y - cy) ** 2, cl) for cl, _n, cx, cy in cent)
        want[i] = best[1]
    assert got == want
    # clusters 4.0 and 4.2 merged -> exactly 3 final classes
    assert len(set(got.values())) == 3


def test_lloyd_kmeans_partitions_ids(spark):
    from whitebox_tools_spark.operators.ml import lloyd_kmeans

    import numpy as np
    rng = np.random.default_rng(5)
    centers = np.array([[0.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    pts = [
        (i, *(centers[i % 3] + rng.normal(0, 0.3, 2)).tolist())
        for i in range(90)
    ]
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    out = lloyd_kmeans(df, ["x", "y"], 3, id_col="pid", iters=6).collect()
    assert len(out) == 90
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, set()).add(r.pid % 3)
    # converged: each cluster contains exactly one generator center
    assert all(len(v) == 1 for v in by_cluster.values())
    assert len(by_cluster) == 3
