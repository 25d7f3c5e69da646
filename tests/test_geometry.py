"""Kernel unit tests pinning reference semantics (SURVEY.md section 2.2)."""

import numpy as np
import pytest

from whitebox_tools_spark import geometry as G


def square(cw=True):
    xs = np.array([0.0, 0.0, 5.0, 5.0, 0.0])
    ys = np.array([0.0, 5.0, 5.0, 0.0, 0.0])
    if not cw:
        xs, ys = xs[::-1], ys[::-1]
    return xs, ys


def test_point_in_ring_basic():
    xs, ys = square()
    assert G.point_in_ring([2.0], [2.0], xs, ys)[0]
    assert not G.point_in_ring([6.0], [2.0], xs, ys)[0]


def test_reference_winding_number_cases():
    # verbatim transcription of poly_ops.rs:198-210 (triangle fixture):
    # boundary point (5, 2) -> wn 0 (OUTSIDE); (4, 2) -> 1; (6, 2) -> 0
    xs = np.array([0.0, 5.0, 5.0, 0.0])
    ys = np.array([0.0, 0.0, 5.0, 0.0])
    assert G.winding_number([5.0], [2.0], xs, ys)[0] == 0
    assert G.winding_number([4.0], [2.0], xs, ys)[0] == 1
    assert G.winding_number([6.0], [2.0], xs, ys)[0] == 0
    # poly_ops.rs:185-196: (2,2) in, (12,12) out
    assert G.point_in_ring([2.0], [2.0], xs, ys)[0]
    assert not G.point_in_ring([12.0], [12.0], xs, ys)[0]


def test_boundary_edge_midpoint_is_outside():
    # the documented boundary-outside rule (poly_ops.rs:26-27) on a square:
    # midpoints of the right and top edges are out
    xs, ys = square()
    assert not G.point_in_ring([5.0], [2.5], xs, ys)[0]
    assert not G.point_in_ring([2.5], [5.0], xs, ys)[0]


def test_winding_requires_closed_ring():
    with pytest.raises(ValueError):
        G.winding_number([1.0], [1.0], np.array([0.0, 1.0, 1.0]), np.array([0.0, 0.0, 1.0]))


def test_part_order_hole_resolution():
    # clip.rs:317-321 — later containing part wins
    shell_xs, shell_ys = square(cw=True)
    hole_xs = np.array([1.0, 3.0, 3.0, 1.0, 1.0])
    hole_ys = np.array([1.0, 1.0, 3.0, 3.0, 1.0])  # CCW (hole winding)
    assert G.is_hole(hole_xs, hole_ys)
    parts = [(shell_xs, shell_ys, False), (hole_xs, hole_ys, True)]
    keep = G.point_in_parts([2.0, 4.5], [2.0, 4.5], parts)
    assert keep.tolist() == [False, True]  # in-hole dropped, in-shell kept


def test_is_hole_windings():
    xs, ys = square(cw=True)
    assert not G.is_hole(xs, ys)
    xs, ys = square(cw=False)
    assert G.is_hole(xs, ys)


def test_area_perimeter_match_reference_tests():
    # poly_area.rs / poly_perimeter.rs unit tests: 5x5 square, open + closed
    xs, ys = square()
    assert G.polygon_area(xs, ys) == 25.0
    assert G.polygon_perimeter(xs, ys) == 20.0
    assert G.polygon_area(xs[:-1], ys[:-1]) == 25.0
    assert G.polygon_perimeter(xs[:-1], ys[:-1]) == 20.0


def test_centroid_square():
    xs, ys = square()
    cx, cy = G.centroid(xs, ys)
    assert (cx, cy) == (2.5, 2.5)


def test_convex_hull():
    xs = np.array([0.0, 5.0, 5.0, 0.0, 2.5, 1.0])
    ys = np.array([0.0, 0.0, 5.0, 5.0, 2.5, 1.0])
    hx, hy = G.convex_hull(xs, ys)
    assert len(hx) == 4
    assert G.polygon_area(np.append(hx, hx[0]), np.append(hy, hy[0])) == 25.0


def test_simplify_rdp():
    xs = np.array([0.0, 1.0, 2.0, 3.0, 4.0])
    ys = np.array([0.0, 0.001, 0.0, 0.001, 0.0])
    sx, sy = G.simplify_rdp(xs, ys, 0.01)
    assert len(sx) == 2  # collinear-ish collapsed
    sx, sy = G.simplify_rdp(xs, ys, 0.0001)
    assert len(sx) == 5


def _brute_intersections(a_rows, b_rows):
    out = set()
    for (p1, ax0, ay0, ax1, ay1) in a_rows:
        for (p2, bx0, by0, bx1, by1) in b_rows:
            rx, ry = ax1 - ax0, ay1 - ay0
            sx, sy = bx1 - bx0, by1 - by0
            den = rx * sy - ry * sx
            if den == 0.0:
                continue
            t = ((bx0 - ax0) * sy - (by0 - ay0) * sx) / den
            u = ((bx0 - ax0) * ry - (by0 - ay0) * rx) / den
            if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
                out.add((p1, p2, round(ax0 + t * rx, 6), round(ay0 + t * ry, 6)))
    return out


def _line_intersections(spark, a_rows, b_rows):
    import pandas as pd
    from whitebox_tools_spark.operators.vector_ops import line_intersections

    cols = ["poly_id", "x0", "y0", "x1", "y1"]
    a_df = spark.createDataFrame(pd.DataFrame(a_rows, columns=cols))
    b_df = spark.createDataFrame(pd.DataFrame(b_rows, columns=cols))
    return {(r.parent1, r.parent2, r.x, r.y)
            for r in line_intersections(a_df, b_df).collect()}


def test_line_intersections_long_segment_brute_force(spark):
    # one globally-long segment among many short ones: the p99-sized grid
    # must still report every crossing exactly once (the long row covers
    # many cells; canonical-cell dedup keeps each pair unique)
    rng_a = []
    for i in range(40):
        x = float(i) * 2.5
        rng_a.append((i, x, -1.0, x + 0.8, 1.0))           # short diagonals
    rng_a.append((99, -5.0, 0.0, 120.0, 0.0))              # the long one
    rng_b = [(200 + j, float(j) * 7.0, -2.0, float(j) * 7.0 + 0.5, 2.0)
             for j in range(15)]

    want = _brute_intersections(rng_a, rng_b)
    assert _line_intersections(spark, rng_a, rng_b) == want and len(want) > 10


def test_line_intersections_on_world_edge(spark):
    # A ends on the vertical B at x, which is the segments' min x and so the
    # grid's origin. ax0 + t*rx (t == 1) lands one ulp left of x, in cell
    # ix = -1, which is in neither world-clamped segment cover; unless the
    # point's cell is clamped too, the exact-once cell filter drops the pair.
    cases = [
        (10.109027106901756, 0.7761174288038939, 0.1, 0.9221885624698875,
         -2.9191003055282696, 4.665079342021176),
        (11.795373371392419, -1.25, 1.7, 2.5, -3.0, 6.0),
        (7.648132434792485, 3.5, 0.3, -0.75, -4.0, 1.0),
    ]
    for ax0, ay0, x, ay1, by0, by1 in cases:
        a = [(1, ax0, ay0, x, ay1)]
        b = [(2, x, by0, x, by1)]
        assert ax0 + (x - ax0) < x
        want = _brute_intersections(a, b)
        assert len(want) == 1
        assert _line_intersections(spark, a, b) == want, (x, want)
