"""Tests: focal, hexbin, sources, shape tools, trend surface, ML."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import GridSpec


GRID = GridSpec(west=0.0, north=100.0, res_x=10.0, res_y=10.0, rows=10, cols=10)


def _dense_raster(spark, rows=8, cols=8):
    rng = np.random.default_rng(11)
    vals = rng.uniform(0, 100, (rows, cols))
    recs = [(r, c, float(vals[r, c])) for r in range(rows) for c in range(cols)]
    return spark.createDataFrame(recs, "row long, col long, value double"), vals


def test_slope_flat_surface_is_zero(spark):
    recs = [(r, c, 5.0) for r in range(6) for c in range(6)]
    cells = spark.createDataFrame(recs, "row long, col long, value double")
    from whitebox_tools_spark.operators.focal import slope

    out = slope(cells, res=10.0).collect()
    assert all(r.value == 0.0 for r in out)


def test_slope_matches_numpy_oracle(spark):
    from whitebox_tools_spark.operators.focal import OFFSETS25, slope

    cells, vals = _dense_raster(spark)
    res = 10.0
    out = {(r.row, r.col): r.value for r in slope(cells, res=res).collect()}

    def z(r, c, rr, cc):
        if 0 <= rr < 8 and 0 <= cc < 8:
            return vals[rr, cc]
        return vals[r, c]

    for (r, c) in [(0, 0), (3, 4), (7, 7)]:
        zz = [z(r, c, r + dy, c + dx) for dx, dy in OFFSETS25]
        recip = 1.0 / (420.0 * res)
        p = recip * (44*(zz[3]+zz[23]-zz[1]-zz[21]) + 31*(zz[0]+zz[20]-zz[4]-zz[24]
            + 2*(zz[8]+zz[18]-zz[6]-zz[16])) + 17*(zz[14]-zz[10]+4*(zz[13]-zz[11]))
            + 5*(zz[9]+zz[19]-zz[5]-zz[15]))
        q = recip * (44*(zz[5]+zz[9]-zz[15]-zz[19]) + 31*(zz[20]+zz[24]-zz[0]-zz[4]
            + 2*(zz[6]+zz[8]-zz[16]-zz[18])) + 17*(zz[2]-zz[22]+4*(zz[7]-zz[17]))
            + 5*(zz[1]+zz[3]-zz[21]-zz[23]))
        expect = np.degrees(np.arctan(np.sqrt(p * p + q * q)))
        assert abs(out[(r, c)] - expect) < 1e-9


def test_mean_filter(spark):
    cells = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 3.0), (1, 0, 5.0), (1, 1, 7.0)],
        "row long, col long, value double",
    )
    from whitebox_tools_spark.operators.focal import mean_filter

    out = {(r.row, r.col): r.value for r in mean_filter(cells).collect()}
    assert out[(0, 0)] == 4.0  # all four cells in window


def test_hex_binning_counts_total(spark):
    from whitebox_tools_spark.operators.tiling import hex_binning

    rng = np.random.default_rng(4)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 100, (50, 2)))],
        "point_id long, x double, y double",
    )
    out = hex_binning(pts, width=25.0, min_x=0.0, max_x=100.0, min_y=0.0, max_y=100.0)
    rows = out.collect()
    assert sum(r["count"] for r in rows) == 50
    assert all(r.fid >= 1 for r in rows)


def test_hex_centers_match_reference_formula():
    """Pin the lattice geometry to vector_hex_bin.rs:280-284: the Rust
    variable `sixty_degrees` is PI/6, so size = half_width / cos(30 deg),
    height = 2*size, row pitch = 0.75*height ~ 0.866*width."""
    import math

    from whitebox_tools_spark.operators.tiling import hex_centers

    width = 25.0
    size = (0.5 * width) / math.cos(math.pi / 6.0)
    tqh = 0.75 * 2.0 * size
    centers = hex_centers(min_x=0.0, max_x=100.0, min_y=0.0, max_y=100.0, width=width)
    rows = {r for _, r, _, _, _ in centers}
    assert len(rows) == math.ceil(100.0 / tqh) == 5
    # row 0: even row, 4 columns at x = 12.5 + 25*c, y = 100 - height/4
    r0 = [(cx, cy) for _, r, _, cx, cy in centers if r == 0]
    assert len(r0) == 4
    assert abs(r0[0][0] - 12.5) < 1e-12
    assert abs(r0[0][1] - (100.0 - 0.25 * 2.0 * size)) < 1e-12
    # row 1: odd row is offset by half a width and one column wider
    r1 = [(cx, cy) for _, r, _, cx, cy in centers if r == 1]
    assert len(r1) == 5
    assert abs(r1[0][0] - 0.0) < 1e-12
    assert abs(r1[0][1] - (r0[0][1] - tqh)) < 1e-12


def test_with_global_seq_matches_global_window(spark):
    from whitebox_tools_spark.distributed import with_global_seq

    rng = np.random.default_rng(9)
    df = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(rng.uniform(0, 1, 500))],
        "id long, v double",
    )
    out = {r.id: r.seq for r in with_global_seq(df, ["v"], out_col="seq").collect()}
    expect = {
        r.id: i + 1
        for i, r in enumerate(sorted(df.collect(), key=lambda r: r.v))
    }
    assert out == expect


def test_quantiles_match_ntile(spark):
    """Distributed quantile transform must reproduce SQL ntile bin sizes."""
    from pyspark.sql import Window

    from whitebox_tools_spark.operators import stats as ST

    rng = np.random.default_rng(2)
    cells = spark.createDataFrame(
        [(int(i), 0, float(v)) for i, v in enumerate(rng.uniform(0, 10, 103))],
        "row long, col long, value double",
    )
    for q in (2, 4, 5, 7):
        mine = (
            ST.quantiles(cells, q)
            .groupBy("quantile").count().orderBy("quantile").collect()
        )
        ref = (
            cells.withColumn("quantile", F.ntile(q).over(Window.orderBy("value")))
            .groupBy("quantile").count().orderBy("quantile").collect()
        )
        assert [(r.quantile, r["count"]) for r in mine] == [
            (r.quantile, r["count"]) for r in ref
        ], f"q={q}"


def test_csv_roundtrip(spark, tmp_path):
    from whitebox_tools_spark.sources import csv_points_to_vector

    p = tmp_path / "pts.csv"
    p.write_text("x,y,name\n1.5,2.5,a\n3.0,4.0,b\n")
    df = csv_points_to_vector(spark, str(p))
    rows = sorted((r.x, r.y, r.name) for r in df.collect())
    assert rows == [(1.5, 2.5, "a"), (3.0, 4.0, "b")]


def test_ascii_grid_roundtrip(spark, tmp_path):
    from whitebox_tools_spark.sources import read_ascii_grid, write_ascii_grid

    cells = spark.createDataFrame(
        [(0, 0, 1.5), (0, 1, None), (1, 0, 3.5), (1, 1, 4.5)],
        "row long, col long, value double",
    )
    g = GridSpec(west=0.0, north=20.0, res_x=10.0, res_y=10.0, rows=2, cols=2)
    path = str(tmp_path / "grid.asc")
    write_ascii_grid(cells, g, path)
    df2, g2 = read_ascii_grid(spark, path)
    assert g2 == g
    vals = {(r.row, r.col): r.value for r in df2.collect()}
    assert vals[(0, 0)] == 1.5 and vals[(0, 1)] is None and vals[(1, 1)] == 4.5


def test_shape_tools(spark):
    from whitebox_tools_spark.operators.vector_ops import (
        clean_vector,
        lines_to_polygons,
        polygons_to_lines,
        remove_polygon_holes,
    )

    parts = spark.createDataFrame(
        [
            (1, 0, False, [0.0, 0.0, 5.0, 0.0], [0.0, 5.0, 5.0, 0.0]),
            (1, 1, True, [1.0, 3.0, 3.0, 1.0, 1.0], [1.0, 1.0, 3.0, 3.0, 1.0]),
            (2, 0, False, [0.0, 1.0], [0.0, 1.0]),  # degenerate
        ],
        "poly_id long, part_idx int, is_hole boolean, xs array<double>, ys array<double>",
    )
    assert remove_polygon_holes(parts).count() == 2
    assert clean_vector(parts).count() == 2
    lines = polygons_to_lines(parts)
    assert lines.count() == 3
    polys = lines_to_polygons(lines.filter(F.col("fid") == 1))
    r = polys.collect()[0]
    assert r.xs[0] == r.xs[-1] and r.ys[0] == r.ys[-1]


def test_trend_surface_recovers_plane(spark):
    from whitebox_tools_spark.operators.stats import trend_surface

    recs = []
    for r in range(10):
        for c in range(10):
            x = GRID.x_center(c)
            y = GRID.y_center(r)
            recs.append((r, c, 2.0 + 0.5 * x - 0.25 * y))
    cells = spark.createDataFrame(recs, "row long, col long, value double")
    fitted, coef = trend_surface(cells, GRID, order=1)
    # terms ordered [(0,0),(1,0),(0,1)] -> [a, b, c]
    assert abs(coef[0] - 2.0) < 1e-6
    assert abs(coef[1] - 0.5) < 1e-9
    assert abs(coef[2] + 0.25) < 1e-9
    out = {(r.row, r.col): r.value for r in fitted.collect()}
    for (r, c, v) in recs[:5]:
        assert abs(out[(r, c)] - v) < 1e-6


def test_kmeans_and_pca(spark, sf_dir):
    from whitebox_tools_spark.operators.ml import kmeans_clusters, pca_components

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", *[F.col("embedding")[i].alias(f"f{i}") for i in range(8)]
    )
    feats = [f"f{i}" for i in range(8)]
    clustered, centers = kmeans_clusters(emb, feats, 3)
    assert clustered.select("cluster").distinct().count() <= 3
    assert len(centers) == 3
    scores, var = pca_components(emb, feats, 2)
    assert {"pc1", "pc2"} <= set(scores.columns)
    assert len(var) == 2 and var[0] >= var[1] >= 0.0


def test_conv_filter_identity_and_sobel_ramp(spark):
    from whitebox_tools_spark.operators.focal import conv_filter, sobel_filter

    cells, vals = _dense_raster(spark)
    ident = [[0.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 0.0]]
    out = {(r.row, r.col): r.value for r in conv_filter(cells, ident).collect()}
    assert out == {(r, c): vals[r, c] for r in range(8) for c in range(8)}
    # ramp z = 3*col: interior Sobel-x response = 3*8 = 24, y response 0
    ramp = spark.createDataFrame(
        [(r, c, 3.0 * c) for r in range(6) for c in range(6)],
        "row long, col long, value double",
    )
    s = {(r.row, r.col): r.value for r in sobel_filter(ramp).collect()}
    assert s[(2, 2)] == 24.0 and s[(3, 3)] == 24.0


def test_gaussian_kernel_normalized():
    from whitebox_tools_spark.operators.focal import gaussian_kernel

    k = gaussian_kernel(1.2)
    assert abs(sum(sum(r) for r in k) - 1.0) < 1e-12


def test_terrain_position_family(spark):
    """elev_percentile / TRI / diff-dev-from-mean vs a direct numpy oracle."""
    from whitebox_tools_spark.operators.focal import (
        dev_from_mean, diff_from_mean, elev_percentile, ruggedness_index,
    )

    cells, vals = _dense_raster(spark, 6, 6)
    ep = {(r.row, r.col): r.value for r in elev_percentile(cells).collect()}
    tri = {(r.row, r.col): r.value for r in ruggedness_index(cells).collect()}
    dfm = {(r.row, r.col): r.value for r in diff_from_mean(cells).collect()}
    dvm = {(r.row, r.col): r.value for r in dev_from_mean(cells).collect()}
    for (r, c) in [(0, 0), (2, 3), (5, 5)]:
        win = [vals[rr, cc] for rr in range(r - 1, r + 2) for cc in range(c - 1, c + 2)
               if 0 <= rr < 6 and 0 <= cc < 6]
        z = vals[r, c]
        assert ep[(r, c)] == pytest.approx(sum(1 for v in win if v < z) / len(win) * 100)
        nb = [v for i, v in enumerate(win) if v != z or win.index(v) != i or True]
        nbrs = [vals[rr, cc] for rr in range(r - 1, r + 2) for cc in range(c - 1, c + 2)
                if 0 <= rr < 6 and 0 <= cc < 6 and (rr, cc) != (r, c)]
        assert tri[(r, c)] == pytest.approx(
            float(np.sqrt(np.mean([(v - z) ** 2 for v in nbrs]))))
        mean = float(np.mean(win))
        assert dfm[(r, c)] == pytest.approx(z - mean)
        sd = float(np.std(win))
        assert dvm[(r, c)] == pytest.approx((z - mean) / sd if sd > 0 else 0.0)


def test_morphology_and_majority(spark):
    from whitebox_tools_spark.operators.focal import majority_filter, morphology

    cells, vals = _dense_raster(spark, 6, 6)
    opened = {(r.row, r.col): r.value for r in morphology(cells, "opening").collect()}
    tophat = {(r.row, r.col): r.value for r in morphology(cells, "tophat").collect()}

    def win_stat(arr, r, c, fn):
        return fn([arr[rr, cc] for rr in range(r - 1, r + 2) for cc in range(c - 1, c + 2)
                   if 0 <= rr < 6 and 0 <= cc < 6])

    eroded = np.array([[win_stat(vals, r, c, min) for c in range(6)] for r in range(6)])
    for (r, c) in [(0, 0), (2, 3), (5, 5)]:
        assert opened[(r, c)] == pytest.approx(win_stat(eroded, r, c, max))
        assert tophat[(r, c)] == pytest.approx(vals[r, c] - win_stat(eroded, r, c, max))

    # majority on a 3-class raster: ties break toward the smallest class
    classes = spark.createDataFrame(
        [(r, c, float((r + c) % 2)) for r in range(4) for c in range(4)],
        "row long, col long, value double",
    )
    maj = {(r.row, r.col): r.value for r in majority_filter(classes).collect()}
    # interior cell (1,1): window has 5 cells of class (r+c)%2==0? count both
    win = [float((rr + cc) % 2) for rr in range(0, 3) for cc in range(0, 3)]
    expect = sorted(((win.count(v), -v) for v in set(win)), reverse=True)[0][1] * -1
    assert maj[(1, 1)] == expect


def test_viewshed_wall_blocks(spark):
    """A tall wall between station and far cells hides everything behind it;
    cells in front stay visible."""
    from whitebox_tools_spark.grid import GridSpec
    from whitebox_tools_spark.operators.viewshed import viewshed

    R, C = 1, 12
    recs = [(0, c, 100.0 if c == 6 else 10.0) for c in range(C)]
    cells = spark.createDataFrame(recs, "row long, col long, value double")
    grid = GridSpec(west=0.0, north=100.0, res_x=5.0, res_y=5.0, rows=R, cols=C)
    vis = {
        (r.row, r.col): r.value
        for r in viewshed(cells, grid, station_row=0, station_col=0).collect()
    }
    assert vis[(0, 0)] == 1.0 and vis[(0, 5)] == 1.0
    assert vis[(0, 6)] == 1.0           # the wall top itself is visible
    assert all(vis[(0, c)] == 0.0 for c in range(7, C))  # shadowed


def test_horizon_angle_east_monotone_case(spark):
    from whitebox_tools_spark.grid import GridSpec
    from whitebox_tools_spark.operators.viewshed import horizon_angle_east

    import math
    recs = [(0, c, float(c * c)) for c in range(6)]  # convex rise east
    cells = spark.createDataFrame(recs, "row long, col long, value double")
    grid = GridSpec(west=0.0, north=100.0, res_x=10.0, res_y=10.0, rows=1, cols=6)
    out = {(r.row, r.col): r.value for r in horizon_angle_east(cells, grid).collect()}
    # from col 0 the steepest angle is to the farthest cell (convexity)
    expect = math.degrees(math.atan((25.0 - 0.0) / (5 * 10.0)))
    assert out[(0, 0)] == pytest.approx(expect)
    assert out[(0, 5)] is None  # no cell further east


def test_with_running_sum_matches_numpy_prefix(spark):
    from whitebox_tools_spark.distributed import with_running_sum

    rng = np.random.default_rng(13)
    vals = rng.uniform(0, 10, 400)
    df = spark.createDataFrame(
        [(float(v), float(v) * 2.0, 1.0) for v in vals],
        "value double, a double, b double",
    ).dropDuplicates(["value"])
    out = with_running_sum(df, ["value"], ["a", "b"], num_partitions=7).collect()
    rows = sorted(out, key=lambda r: r.value)
    exp_a = np.cumsum([r.a for r in rows])
    exp_b = np.cumsum([r.b for r in rows])
    got_a = np.array([r.cum_a for r in rows])
    got_b = np.array([r.cum_b for r in rows])
    assert np.allclose(got_a, exp_a) and np.allclose(got_b, exp_b)


def test_two_sample_ks_identical_and_shifted(spark):
    from whitebox_tools_spark.operators.stats import two_sample_ks_test

    rng = np.random.default_rng(17)
    recs = [
        (i % 20, i // 20, float(v))
        for i, v in enumerate(rng.normal(50, 10, 300))
    ]
    a = spark.createDataFrame(recs, "row long, col long, value double")
    same = two_sample_ks_test(a, a).collect()[0]
    assert same.ks_d == 0.0 and same.p_value == 1.0
    b = a.select("row", "col", (F.col("value") + 30.0).alias("value"))
    shifted = two_sample_ks_test(a, b).collect()[0]
    # scipy-free oracle: numpy two-sample KS D on the same data
    av = np.sort(np.array([r[2] for r in recs]))
    bv = av + 30.0
    pooled = np.concatenate([av, bv])
    d = np.max(
        np.abs(
            np.searchsorted(av, pooled, side="right") / len(av)
            - np.searchsorted(bv, pooled, side="right") / len(bv)
        )
    )
    assert shifted.ks_d == pytest.approx(d, abs=1e-6)
    assert shifted.p_value < 1e-6


def test_cumulative_distribution_small(spark):
    from whitebox_tools_spark.operators.stats import cumulative_distribution

    recs = [(0, 0, 1.0), (0, 1, 2.0), (0, 2, 2.0), (0, 3, 5.0)]
    cells = spark.createDataFrame(recs, "row long, col long, value double")
    out = {(r.row, r.col): r.value for r in cumulative_distribution(cells).collect()}
    assert out == {(0, 0): 0.25, (0, 1): 0.75, (0, 2): 0.75, (0, 3): 1.0}


def test_moran_i_checkerboard_negative(spark):
    from whitebox_tools_spark.operators.stats import image_autocorrelation

    recs = [
        (r, c, float((r + c) % 2)) for r in range(8) for c in range(8)
    ]
    cells = spark.createDataFrame(recs, "row long, col long, value double")
    out = image_autocorrelation(cells, contiguity="rook").collect()[0]
    # perfect checkerboard: I = -1 under rook contiguity
    assert out.moran_i == pytest.approx(-1.0, abs=1e-6)
    assert out.n == 64 and out.w == 2 * (7 * 8 + 8 * 7)


def test_integral_image_matches_numpy(spark):
    from whitebox_tools_spark.operators.image import integral_image

    rng = np.random.default_rng(21)
    vals = rng.uniform(0, 50, (6, 5))
    recs = [
        (r, c, float(vals[r, c]))
        for r in range(6) for c in range(5)
        if (r, c) != (2, 3)  # hole: contributes 0 but still gets output
    ]
    cells = spark.createDataFrame(recs, "row long, col long, value double")
    dense = vals.copy()
    dense[2, 3] = 0.0
    expect = dense.cumsum(axis=1).cumsum(axis=0)
    out = {(r.row, r.col): r.value for r in integral_image(cells).collect()}
    assert len(out) == 30
    for r in range(6):
        for c in range(5):
            assert out[(r, c)] == pytest.approx(expect[r, c], rel=1e-12)


def test_anova_matches_numpy(spark):
    from whitebox_tools_spark.operators.stats import anova

    rng = np.random.default_rng(23)
    zones = rng.integers(1, 5, 200)
    vals = rng.normal(10, 3, 200) + zones * 2.0
    df = spark.createDataFrame(
        [(int(z), float(v)) for z, v in zip(zones, vals)], "zone_id int, value double"
    )
    out = anova(df).collect()[0]
    groups = [vals[zones == z] for z in np.unique(zones)]
    gm = vals.mean()
    ssb = sum(len(g) * (g.mean() - gm) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    k, n = len(groups), len(vals)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert out.num_classes == k and out.n == n
    assert out.ss_between == pytest.approx(ssb, abs=1e-4)
    assert out.ss_within == pytest.approx(ssw, abs=1e-4)
    assert out.f_stat == pytest.approx(f, abs=1e-4)


def test_wilcoxon_signed_rank_small(spark):
    from whitebox_tools_spark.operators.stats import wilcoxon_signed_rank_test

    # hand-computed example with a tie and a zero difference
    a_vals = [5.0, 3.0, 8.0, 4.0, 7.0, 2.0]
    b_vals = [3.0, 3.0, 4.0, 6.0, 3.0, 4.0]
    recs_a = [(0, i, v) for i, v in enumerate(a_vals)]
    recs_b = [(0, i, v) for i, v in enumerate(b_vals)]
    a = spark.createDataFrame(recs_a, "row long, col long, value double")
    b = spark.createDataFrame(recs_b, "row long, col long, value double")
    out = wilcoxon_signed_rank_test(a, b).collect()[0]
    # diffs: 2, 0(drop), 4, -2, 4, -2 -> |d|: 2,4,2,4,2 ranks avg: 2s->(1+2+3)/3=2, 4s->(4+5)/2=4.5
    # signed: +2, +4.5, -2, +4.5, -2 -> W = 7, w_plus = 11, w_minus = 4
    assert out.nr == 5
    assert out.w_plus == pytest.approx(11.0)
    assert out.w_minus == pytest.approx(4.0)
    sigma = math.sqrt(5 * 6 * 11 / 6)
    assert out.z_value == pytest.approx(round(7.0 / sigma, 6))


def test_paired_t_matches_numpy(spark):
    from whitebox_tools_spark.operators.stats import paired_sample_t_test

    rng = np.random.default_rng(29)
    x = rng.normal(10, 2, 150)
    y = x + rng.normal(0.5, 1, 150)
    a = spark.createDataFrame(
        [(0, i, float(v)) for i, v in enumerate(x)], "row long, col long, value double"
    )
    b = spark.createDataFrame(
        [(0, i, float(v)) for i, v in enumerate(y)], "row long, col long, value double"
    )
    out = paired_sample_t_test(a, b).collect()[0]
    d = x - y
    t = d.mean() / (d.std(ddof=1) / math.sqrt(len(d)))
    assert out.n == 150
    assert out.t_stat == pytest.approx(t, abs=1e-5)


def test_contrast_stretch_properties(spark):
    from whitebox_tools_spark.operators.image import (
        percentage_contrast_stretch,
        sigmoidal_contrast_stretch,
        stdev_contrast_stretch,
    )

    rng = np.random.default_rng(31)
    recs = [
        (i % 20, i // 20, float(v))
        for i, v in enumerate(rng.normal(100, 25, 400))
    ]
    cells = spark.createDataFrame(recs, "row long, col long, value double")
    for fn in (
        lambda: stdev_contrast_stretch(cells, clip_stdev=1.0, num_tones=64),
        lambda: percentage_contrast_stretch(cells, clip=5.0, num_tones=64),
        lambda: sigmoidal_contrast_stretch(cells, cutoff=0.3, gain=3.0, num_tones=64),
    ):
        vals = [r.value for r in fn().collect()]
        assert len(vals) == 400
        assert min(vals) >= 0.0 and max(vals) <= 64.0
        assert all(v == math.floor(v) for v in vals)
        assert len(set(vals)) > 10  # actually stretches, not constant


def test_terrain_indices_and_neighbour_counts(spark):
    from whitebox_tools_spark.operators import terrain as TE

    # 3x3 pyramid: center highest
    z = [[1.0, 2.0, 1.0], [2.0, 5.0, 2.0], [1.0, 2.0, 1.0]]
    cells = spark.createDataFrame(
        [(r, c, z[r][c]) for r in range(3) for c in range(3)],
        "row long, col long, value double",
    )
    down = {(r.row, r.col): r.value for r in TE.num_downslope_neighbours(cells).collect()}
    assert down[(1, 1)] == 8.0  # peak: everything lower
    assert down[(0, 0)] == 0.0  # corner pit
    up = {(r.row, r.col): r.value for r in TE.num_upslope_neighbours(cells).collect()}
    assert up[(1, 1)] == 0.0 and up[(0, 0)] == 3.0

    # max downslope change at the peak: steepest is the cardinal drop 5->2
    # (slope 3/res) vs diagonal 4/(res*sqrt2)=2.83/res -> zc = 3
    mx = {(r.row, r.col): r.value for r in
          TE.max_downslope_elev_change(cells, res=1.0).collect()}
    assert mx[(1, 1)] == pytest.approx(3.0)
    # min downslope (gentlest non-negative): corner 1 -> ties at slope 0? none:
    # corner has no lower/equal neighbor except itself -> zc from equal? corner
    # (0,0): neighbors 2,2,5 all higher -> no candidate -> 0.0
    mn = {(r.row, r.col): r.value for r in
          TE.min_downslope_elev_change(cells, res=1.0).collect()}
    assert mn[(0, 0)] == 0.0

    # wetness: ln(sca/tan(rad(slope))), checked against python math
    slope_df = spark.createDataFrame(
        [(0, 0, 30.0), (0, 1, 0.0)], "row long, col long, value double"
    )
    sca = spark.createDataFrame(
        [(0, 0, 100.0), (0, 1, 100.0)], "row long, col long, value double"
    )
    wi = {(r.row, r.col): r.value for r in TE.wetness_index(sca, slope_df).collect()}
    assert wi[(0, 0)] == pytest.approx(math.log(100.0 / math.tan(math.radians(30.0))))
    assert wi[(0, 1)] is None


def test_color_composite_roundtrip_and_ihs(spark):
    from whitebox_tools_spark.operators import color as CO

    rng = np.random.default_rng(37)
    def band(seed_off):
        return spark.createDataFrame(
            [(i % 10, i // 10, float(v)) for i, v in
             enumerate(rng.uniform(seed_off, seed_off + 100, 100))],
            "row long, col long, value double",
        )
    r, g, b = band(0), band(50), band(100)
    comp = CO.create_colour_composite(r, g, b)
    back = CO.split_colour_composite(comp)
    rows = back.collect()
    assert len(rows) == 100
    assert all(x.a == 255.0 for x in rows)
    assert all(0 <= x.r <= 255 and 0 <= x.g <= 255 and 0 <= x.b <= 255 for x in rows)
    # channel extremes: min maps to 0, max to 255
    rc = {(x.row, x.col): x.r for x in rows}
    rv = {(x.row, x.col): v for (x, v) in
          ((q, q.value) for q in r.collect())}
    lo = min(rv, key=rv.get); hi = max(rv, key=rv.get)
    assert rc[lo] == 0.0 and rc[hi] == 255.0

    ihs = CO.rgb_to_ihs(r, g, b)
    out = ihs.collect()
    assert all(0.0 <= x.saturation <= 1.0 + 1e-9 for x in out)
    assert all(0.0 <= x.intensity <= 1.0 + 1e-9 for x in out)
    assert all(0.0 <= x.hue <= 2 * math.pi + 1e-9 for x in out)
    rgb2 = CO.ihs_to_rgb(ihs).collect()
    assert len(rgb2) == 100


def test_contours_segments_and_stitch(spark):
    """ContoursFromRaster: a 1-cell island one band higher than its
    surroundings must yield exactly its 4 crack edges, stitched into one
    closed loop; and on a random DEM the polylines' consecutive-vertex
    pairs must reproduce the segment multiset exactly."""
    from whitebox_tools_spark.grid import GridSpec
    from whitebox_tools_spark.operators.terrain import (
        contour_polylines,
        contour_segments,
    )

    g = GridSpec(west=0.0, north=100.0, res_x=10.0, res_y=10.0, rows=5, cols=5)
    recs = [
        (r, c, 25.0 if (r, c) == (2, 2) else 5.0)
        for r in range(5)
        for c in range(5)
    ]
    dem = spark.createDataFrame(recs, "row long, col long, value double")
    segs = contour_segments(dem, g, interval=10.0, base=0.0).collect()
    # island cell (2,2): x in [20,30], y in [70,80]; bands 0 vs 2 -> levels 1,2
    want = set()
    for lvl in (10.0, 20.0):
        want |= {
            (lvl, 20.0, 80.0, 20.0, 70.0),  # left crack (col 1|2 boundary)
            (lvl, 30.0, 80.0, 30.0, 70.0),  # right
            (lvl, 20.0, 80.0, 30.0, 80.0),  # top
            (lvl, 20.0, 70.0, 30.0, 70.0),  # bottom
        }
    got = {(r.height, r.x1, r.y1, r.x2, r.y2) for r in segs}
    assert got == want
    lines = contour_polylines(dem, g, interval=10.0, base=0.0).collect()
    assert len(lines) == 2  # one closed loop per level
    for ln in lines:
        assert (ln.xs[0], ln.ys[0]) == (ln.xs[-1], ln.ys[-1])
        assert len(ln.xs) == 5  # 4 segments + closing vertex

    # random DEM: stitched polylines conserve the segment multiset
    import numpy as np

    rng = np.random.RandomState(3)
    recs = [
        (r, c, float(rng.rand() * 40.0))
        for r in range(12)
        for c in range(12)
        if rng.rand() > 0.04
    ]
    dem = spark.createDataFrame(recs, "row long, col long, value double")
    g2 = GridSpec(west=0.0, north=120.0, res_x=10.0, res_y=10.0, rows=12, cols=12)
    seg_ms = {}
    for r in contour_segments(dem, g2, interval=10.0, base=0.0).collect():
        k = (r.height, min((r.x1, r.y1), (r.x2, r.y2)), max((r.x1, r.y1), (r.x2, r.y2)))
        seg_ms[k] = seg_ms.get(k, 0) + 1
    line_ms = {}
    for ln in contour_polylines(dem, g2, interval=10.0, base=0.0).collect():
        pts = list(zip(ln.xs, ln.ys))
        for a, b in zip(pts, pts[1:]):
            k = (ln.height, min(a, b), max(a, b))
            line_ms[k] = line_ms.get(k, 0) + 1
    assert seg_ms == line_ms
