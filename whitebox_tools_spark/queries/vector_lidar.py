"""Query bodies: overlay/vector/RBF/stream-plugin/lidar/media families."""

# Shared flat namespace: each queries/ module layers on its predecessor so
# the package behaves exactly like the original single registry module
# (underscore helpers included — `import *` would drop them).
from whitebox_tools_spark.queries import solvers as _prev

globals().update(
    {k: v for k, v in vars(_prev).items() if not k.startswith("__")}
)
del _prev

# ---------------------------------------------------------------------------
# OVL overlay queries (clip/erase polylines, polygon intersect/diff/union)
# ---------------------------------------------------------------------------
def _cust_lines(spark, sf_dir) -> DataFrame:
    """Deterministic polylines: consecutive customer hash-points chained in
    groups of 6 (line_id = floor(c_custkey/6), vertex order = c_custkey%6)."""
    x, y = synth.point_exprs(F.col("c_custkey"))
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), x.alias("x"), y.alias("y")
    )
    v = pts.withColumn("line_id", F.floor(F.col("k") / 6).cast("long")).groupBy(
        "line_id"
    ).agg(
        F.sort_array(F.collect_list(F.struct((F.col("k") % 6).alias("ord"), "x", "y"))).alias("v")
    )
    return v.filter(F.size("v") >= 2).select(
        "line_id",
        F.transform("v", lambda s: s["x"]).alias("xs"),
        F.transform("v", lambda s: s["y"]).alias("ys"),
    )


def _cust_segs_cte() -> str:
    """DuckDB mirror: the same lines as exploded segments
    segs(line_id, seg_idx, px0, py0, px1, py1)."""
    x, y = synth.point_sql("c_custkey")
    return (
        f"WITH p AS (SELECT c_custkey AS k, {x} AS x, {y} AS y, "
        f"CAST(floor(c_custkey / 6) AS BIGINT) AS line_id FROM customer) "
        f"SELECT p1.line_id, CAST(p1.k % 6 AS INT) AS seg_idx, "
        f"p1.x AS px0, p1.y AS py0, p2.x AS px1, p2.y AS py1 "
        f"FROM p p1 JOIN p p2 ON p2.k = p1.k + 1 AND p2.line_id = p1.line_id"
    )


def _lines_to_segments(out: DataFrame) -> DataFrame:
    """Merged output polylines -> rounded segment rows (the oracle's shape)."""
    i = F.explode(F.sequence(F.lit(1), F.size("xs") - 1)).alias("i")
    e = out.select("line_id", "xs", "ys", i)
    return e.select(
        "line_id",
        F.round(F.element_at("xs", F.col("i")), 6).alias("x0"),
        F.round(F.element_at("ys", F.col("i")), 6).alias("y0"),
        F.round(F.element_at("xs", F.col("i") + 1), 6).alias("x1"),
        F.round(F.element_at("ys", F.col("i") + 1), 6).alias("y1"),
    )


def q_clip_lines(spark, sf_dir):
    """Clip polyline case (gis_analysis/clip.rs:524, line_ops.rs:138)."""
    from whitebox_tools_spark.operators.overlay import clip_lines

    return _lines_to_segments(clip_lines(_cust_lines(spark, sf_dir), PARTS, IDX))


def q_erase_lines(spark, sf_dir):
    """Erase polyline case (gis_analysis/erase.rs) — midpoint-outside dual."""
    from whitebox_tools_spark.operators.overlay import erase_lines

    return _lines_to_segments(erase_lines(_cust_lines(spark, sf_dir), PARTS, IDX))


def _parts_a_df(spark) -> DataFrame:
    rows = []
    for pid, parts in PARTS_A:
        for k, (xs, ys, hole) in enumerate(parts):
            rows.append((pid, k, bool(hole), [float(v) for v in xs], [float(v) for v in ys]))
    return spark.createDataFrame(
        rows, "poly_id long, part_idx int, is_hole boolean, xs array<double>, ys array<double>"
    )


def q_polygon_overlay(spark, sf_dir):
    """Intersect/Difference/Union areas per candidate polygon pair
    (gis_analysis/intersect.rs, difference.rs, union.rs) via the
    split-boundary shoelace sum — no ring stitching, no cross join."""
    from whitebox_tools_spark.operators.overlay import polygon_overlay_areas

    out = polygon_overlay_areas(_parts_a_df(spark), PARTS, IDX)
    return out.select(
        "a_id", "b_id",
        F.round("inter_area", 6).alias("inter_area"),
        F.round(F.col("a_area") - F.col("inter_area"), 6).alias("diff_area"),
        F.round(F.col("a_area") + F.col("b_area") - F.col("inter_area"), 6).alias("union_area"),
    )


def q_intersect_rings(spark, sf_dir):
    """Intersect with RING geometry (gis_analysis/intersect.rs): net
    shoelace area of the STITCHED rings per pair, checked against the
    stitch-free boundary-sum oracle. Junction vertices keep one of two
    per-side parametrization variants (~1e-7 apart), so the check rounds
    to whole area units — a mis-stitched or dropped ring shifts the value
    by >= the ring's area."""
    from whitebox_tools_spark.operators.overlay import intersect_polygons_rings

    rings = intersect_polygons_rings(_parts_a_df(spark), PARTS, IDX)
    sa = F.aggregate(
        F.sequence(F.lit(1), F.size("xs") - 1),
        F.lit(0.0),
        lambda acc, k: acc
        + F.element_at("xs", k) * F.element_at("ys", k + 1)
        - F.element_at("xs", k + 1) * F.element_at("ys", k),
    )
    per = rings.select("a_id", "b_id", sa.alias("sa"))
    return per.groupBy("a_id", "b_id").agg(
        F.round(F.lit(-0.5) * F.sum("sa"), 0).alias("area")
    )


def _ring_net_area(rings, ids):
    sa = F.aggregate(
        F.sequence(F.lit(1), F.size("xs") - 1),
        F.lit(0.0),
        lambda acc, k: acc
        + F.element_at("xs", k) * F.element_at("ys", k + 1)
        - F.element_at("xs", k + 1) * F.element_at("ys", k),
    )
    per = rings.select(*ids, sa.alias("sa"))
    return per.groupBy(*ids).agg(
        F.round(F.lit(-0.5) * F.sum("sa"), 0).alias("area")
    )


def _overlapping_pairs(spark):
    """(a_id, b_id) pairs with a genuine intersection — the overlay tools'
    working set (disjoint candidate pairs pass through unchanged)."""
    from whitebox_tools_spark.operators.overlay import polygon_overlay_areas

    return polygon_overlay_areas(_parts_a_df(spark), PARTS, IDX).select(
        "a_id", "b_id"
    )


def q_union_rings(spark, sf_dir):
    """Union with RING geometry (gis_analysis/union.rs): net shoelace area
    of the stitched A∪B rings per intersecting pair vs the stitch-free
    inclusion-exclusion oracle (a + b - inter), rounded to whole units."""
    from whitebox_tools_spark.operators.overlay import overlay_polygons_rings

    rings = overlay_polygons_rings(_parts_a_df(spark), PARTS, IDX, mode="union")
    return _ring_net_area(rings, ["a_id", "b_id"]).join(
        _overlapping_pairs(spark), ["a_id", "b_id"], "semi"
    )


def q_symmetric_difference_rings(spark, sf_dir):
    """SymmetricalDifference rings (gis_analysis/symmetrical_difference.rs):
    net stitched area per intersecting pair vs a + b - 2*inter."""
    from whitebox_tools_spark.operators.overlay import overlay_polygons_rings

    rings = overlay_polygons_rings(
        _parts_a_df(spark), PARTS, IDX, mode="symmetric_difference"
    )
    return _ring_net_area(rings, ["a_id", "b_id"]).join(
        _overlapping_pairs(spark), ["a_id", "b_id"], "semi"
    )


def q_difference_rings(spark, sf_dir):
    """Difference rings (gis_analysis/difference.rs): net stitched area of
    A - B per intersecting pair vs a - inter."""
    from whitebox_tools_spark.operators.overlay import overlay_polygons_rings

    rings = overlay_polygons_rings(
        _parts_a_df(spark), PARTS, IDX, mode="difference"
    )
    return _ring_net_area(rings, ["a_id", "b_id"]).join(
        _overlapping_pairs(spark), ["a_id", "b_id"], "semi"
    )


def _dissolve_groups():
    """Deterministic grouping of the A-side synth layer for Dissolve:
    gid = poly_id % 5."""
    return [(pid % 5, pid, parts) for pid, parts in PARTS_A]


def q_dissolve(spark, sf_dir):
    """Dissolve (gis_analysis/dissolve.rs): per attribute group, stitched
    union rings of the group's features; net shoelace area per group vs
    the n-way stitch-free boundary-sum oracle."""
    from whitebox_tools_spark.operators.overlay import dissolve_rings

    rows = []
    for gid, pid, parts in _dissolve_groups():
        for k, (xs, ys, hole) in enumerate(parts):
            rows.append(
                (gid, pid, k, bool(hole),
                 [float(v) for v in xs], [float(v) for v in ys])
            )
    parts_df = spark.createDataFrame(
        rows,
        "gid long, poly_id long, part_idx int, is_hole boolean, "
        "xs array<double>, ys array<double>",
    )
    rings = dissolve_rings(parts_df, group_col="gid")
    return _ring_net_area(rings, ["gid"])


def q_clip_polygons(spark, sf_dir):
    """Clip polygon case (gis_analysis/clip.rs:571+): area of each input
    polygon clipped to a DISJOINT clip layer (areas add per clip feature)."""
    from whitebox_tools_spark.operators.overlay import polygon_overlay_areas

    out = polygon_overlay_areas(_parts_a_df(spark), PARTS_DISJOINT, IDX)
    return out.groupBy("a_id").agg(
        F.round(F.sum("inter_area"), 6).alias("clipped_area")
    )


# ---------------------------------------------------------------------------
# Radial basis function interpolation
# ---------------------------------------------------------------------------
_RBF_KEYS = 120
_RBF_GRID = GridSpec(west=0.0, north=1000.0, res_x=50.0, res_y=50.0, rows=20, cols=20)


def _rbf_points(spark):
    """Deterministic fixture cloud: LCG x/y (synth.point_exprs) + an exact
    rational z stream — identical integer arithmetic in any engine."""
    x, y = synth.point_exprs(F.col("id"))
    z = ((F.col("id") * F.lit(48271)) % F.lit(99991)).cast("double") / F.lit(1000.0)
    return spark.range(1, _RBF_KEYS + 1).select(
        F.col("id").alias("point_id"), x.alias("x"), y.alias("y"), z.alias("z")
    )


def _rbf_points_np():
    import numpy as np

    keys = np.arange(1, _RBF_KEYS + 1)
    px, py = synth.point_np(keys)
    pz = ((keys.astype(np.int64) * 48271) % 99991).astype(np.float64) / 1000.0
    return keys, px, py, pz


def q_rbf_interpolation(spark, sf_dir):
    """RadialBasisFunctionInterpolation
    (gis_analysis/radial_basis_function_interpolation.rs:560-596): thin
    plate spline (default basis, weight 0.1, no polynomial term), radius
    120 with min_points=5 kNN fallback, 10x-range outlier gate. Oracle =
    INDEPENDENT pure-python Gaussian-elimination transcription (the engine
    solves via SVD pseudo-inverse), literals embedded."""
    from whitebox_tools_spark.operators.rbf import rbf_interpolation

    out = rbf_interpolation(
        _rbf_points(spark), _RBF_GRID, IDX, radius=120.0, min_points=5
    )
    return _r6(out, ["value"])


def q_lidar_rbf_interpolation(spark, sf_dir):
    """LidarRbfInterpolation
    (lidar_analysis/lidar_radial_basis_function_interpolation.rs): the same
    RBF scheme over a point cloud — multiquadric basis with the affine
    polynomial augmentation (poly_order=2) to exercise the mean-centered
    polynomial path (radial_basis_function.rs:97-107)."""
    from whitebox_tools_spark.operators.rbf import rbf_interpolation

    cloud = _rbf_points(spark).withColumn("z", F.col("z") / 2.0 + F.col("x") / 10.0)
    out = rbf_interpolation(
        cloud,
        _RBF_GRID,
        IDX,
        radius=150.0,
        min_points=6,
        func_type="multiquadric",
        weight=5.0,
        poly_order=2,
    )
    return _r6(out, ["value"])


def _rbf_sql(func_type, weight, poly_order, radius, min_points, z_transform) -> str:
    """Literal oracle: neighbor rule + GE solve transcribed independently
    (operators/rbf.py rbf_reference_cell) over the fixture cloud."""
    from whitebox_tools_spark.operators.rbf import rbf_reference_cell

    keys, px, py, pz = _rbf_points_np()
    pz = z_transform(px, py, pz)
    zmin, zmax = float(pz.min()), float(pz.max())
    mid, rng = zmin + (zmax - zmin) / 2.0, zmax - zmin
    g = _RBF_GRID
    rows = []
    for r in range(g.rows):
        for c in range(g.cols):
            tx = g.west + (c + 0.5) * g.res_x
            ty = g.north - (r + 0.5) * g.res_y
            d2 = (px - tx) ** 2 + (py - ty) ** 2
            order = sorted(range(len(keys)), key=lambda i: (d2[i], keys[i]))
            sel = [i for i in order if d2[i] <= radius * radius]
            if len(sel) < min_points:
                sel = order[:min_points]
            if not sel:
                rows.append((r, c, g.nodata))
                continue
            pts = [(float(px[i]), float(py[i]), float(pz[i])) for i in sel]
            v = rbf_reference_cell(pts, tx, ty, func_type, weight, poly_order)
            rows.append((r, c, _round_half_up(v) if abs(v - mid) < 10.0 * rng else g.nodata))
    vals = ", ".join(f"({r}, {c}, {v!r})" for r, c, v in rows)
    return (
        "SELECT CAST(row AS BIGINT) AS row, CAST(col AS BIGINT) AS col, "
        "CAST(value AS DOUBLE) AS value "
        f"FROM (VALUES {vals}) AS t(row, col, value)"
    )


# ---------------------------------------------------------------------------
# Vector stream network plugins
# ---------------------------------------------------------------------------
def _stream_net_polylines():
    """Deterministic tree stream network: vertex lists directed downstream
    (first = upstream child node, last = downstream parent node); 3-dp
    coordinates shared exactly at junctions. Engine arc_id = index + 1."""
    s = [12345]

    def nx():
        s[0] = (s[0] * 48271) % 2147483647
        return s[0]

    outlet = (500.0, 50.0)
    arcs = []
    used = {outlet}
    stack = [(outlet, 0)]
    while stack and len(arcs) < 34:
        node, depth = stack.pop()
        if depth == 0:
            nch = 1
        elif depth <= 2:
            nch = 2
        elif depth < 6:
            r = nx() % 5
            nch = 2 if r < 2 else (1 if r < 4 else 0)
        else:
            nch = 0
        for c in range(nch):
            dx = (nx() % 161) - 80 + c * 37.0
            dy = 60 + nx() % 61
            child = (round(node[0] + dx, 3), round(node[1] + dy, 3))
            while child in used:
                child = (round(child[0] + 0.013, 3), child[1])
            used.add(child)
            mx = round((node[0] + child[0]) / 2 + ((nx() % 21) - 10) / 10.0, 3)
            my = round((node[1] + child[1]) / 2 + ((nx() % 21) - 10) / 10.0, 3)
            arcs.append([child, (mx, my), node])
            stack.append((child, depth + 1))
    return arcs


def _stream_net_df(spark, polylines):
    rows = [
        (i + 1, [float(p[0]) for p in pl], [float(p[1]) for p in pl])
        for i, pl in enumerate(polylines)
    ]
    return spark.createDataFrame(rows, "arc_id long, xs array<double>, ys array<double>")


def q_vector_stream_network_analysis(spark, sf_dir):
    """vector_stream_network_analysis plugin
    (whitebox-plugins/src/vector_stream_network_analysis/main.rs:360-846):
    all 13 per-arc attributes. Lengths quantized at 1e-6 (integer-valued
    double sums are associative — engine-invariant accumulations). The
    reference writes TRIB_ID as the RAW 0-based fid while FID/DS_LINK_ID
    are 1-based (main.rs:781 vs :778); the engine labels tributaries by
    arc_id — the oracle maps the transcription's trib to arc ids."""
    from whitebox_tools_spark.operators.vector_streams import (
        vector_stream_network_analysis,
    )

    out = vector_stream_network_analysis(
        _stream_net_df(spark, _stream_net_polylines()), length_scale=1e6
    )
    return _r6(out, ["tucl", "maxupsdist", "dist2mouth"]).orderBy("arc_id")


def _vsna_sql() -> str:
    from whitebox_tools_spark.operators.vector_streams import vsna_reference

    polylines = _stream_net_polylines()
    res = vsna_reference(polylines, length_scale=1e6)
    rows = []
    for r in res:
        rows.append(
            (
                r["arc_id"] + 1,
                _round_half_up(r["tucl"] / 1e6),
                _round_half_up(r["maxupsdist"] / 1e6),
                r["outlet"],
                r["horton"],
                r["strahler"],
                r["shreve"],
                r["hack"],
                _round_half_up(r["dist2mouth"] / 1e6),
                r["n_ds_nodes"],
                r["is_outlet"],
                r["ds_link_id"] if r["ds_link_id"] > 0 else -98,
                r["mainstem"],
                r["trib_id"] + 1,  # engine labels tribs by 1-based arc_id
            )
        )
    vals = ", ".join("(" + ", ".join(repr(v) for v in row) + ")" for row in rows)
    return (
        "SELECT CAST(arc_id AS BIGINT) AS arc_id, CAST(tucl AS DOUBLE) AS tucl, "
        "CAST(maxupsdist AS DOUBLE) AS maxupsdist, CAST(outlet AS INT) AS outlet, "
        "CAST(horton AS BIGINT) AS horton, CAST(strahler AS BIGINT) AS strahler, "
        "CAST(shreve AS BIGINT) AS shreve, CAST(hack AS BIGINT) AS hack, "
        "CAST(dist2mouth AS DOUBLE) AS dist2mouth, CAST(n_ds_nodes AS BIGINT) AS n_ds_nodes, "
        "CAST(is_outlet AS INT) AS is_outlet, CAST(ds_link_id AS BIGINT) AS ds_link_id, "
        "CAST(mainstem AS INT) AS mainstem, CAST(trib_id AS BIGINT) AS trib_id "
        f"FROM (VALUES {vals}) AS t(arc_id, tucl, maxupsdist, outlet, horton, "
        "strahler, shreve, hack, dist2mouth, n_ds_nodes, is_outlet, ds_link_id, "
        "mainstem, trib_id)"
    )


def q_correct_stream_vector_direction(spark, sf_dir):
    """correct_stream_vector_direction plugin (whitebox-plugins/src/
    correct_stream_vector_direction/main.rs:316-418): re-orient arcs to
    point downstream from outlet-snapped seeds; fixture reverses every
    third arc of the tree network first."""
    from whitebox_tools_spark.operators.vector_streams import (
        correct_stream_vector_direction,
    )

    polylines = [
        list(reversed(pl)) if (i * 7) % 3 == 0 else pl
        for i, pl in enumerate(_stream_net_polylines())
    ]
    outlets = spark.createDataFrame([(500.2, 49.8)], "x double, y double")
    out = correct_stream_vector_direction(
        _stream_net_df(spark, polylines), outlets, snap_dist=1.0
    )
    return out.select(
        "arc_id",
        "was_reversed",
        F.col("xs")[0].alias("fx"),
        F.col("ys")[0].alias("fy"),
        F.element_at("xs", -1).alias("lx"),
        F.element_at("ys", -1).alias("ly"),
    )


def _csvd_sql() -> str:
    from whitebox_tools_spark.operators.vector_streams import csvd_reference

    polylines = [
        list(reversed(pl)) if (i * 7) % 3 == 0 else pl
        for i, pl in enumerate(_stream_net_polylines())
    ]
    rev = csvd_reference(polylines, [(500.2, 49.8)], 1.0)
    rows = []
    for i, pl in enumerate(polylines):
        out_pl = list(reversed(pl)) if rev[i] else pl
        rows.append(
            (i + 1, int(rev[i]), out_pl[0][0], out_pl[0][1], out_pl[-1][0], out_pl[-1][1])
        )
    vals = ", ".join("(" + ", ".join(repr(v) for v in row) + ")" for row in rows)
    return (
        "SELECT CAST(arc_id AS BIGINT) AS arc_id, CAST(was_reversed AS INT) AS was_reversed, "
        "CAST(fx AS DOUBLE) AS fx, CAST(fy AS DOUBLE) AS fy, "
        "CAST(lx AS DOUBLE) AS lx, CAST(ly AS DOUBLE) AS ly "
        f"FROM (VALUES {vals}) AS t(arc_id, was_reversed, fx, fy, lx, ly)"
    )


_REPAIR_NET = [
    # chain of 3 (middle reversed): non-confluence joins
    (1, [(1.0, 10.0), (5.0, 10.0)]),
    (2, [(9.0, 10.0), (5.0, 10.0)]),
    (3, [(9.0, 10.0), (13.0, 10.0)]),
    # target arc (vertical) + an undershoot and an overshoot dangle
    (4, [(20.0, 0.0), (20.0, 20.0)]),
    (5, [(15.0, 5.0), (19.6, 5.0)]),
    (6, [(25.0, 8.0), (19.7, 8.0)]),
    # clean 3-way confluence: must be untouched
    (7, [(30.0, 0.0), (35.0, 5.0)]),
    (8, [(40.0, 0.0), (35.0, 5.0)]),
    (9, [(35.0, 5.0), (35.0, 12.0)]),
    # isolated arc
    (10, [(50.0, 50.0), (55.0, 55.0)]),
]


def _repair_rows(polylines):
    """Orientation/id-insensitive signature rows: lexicographically ordered
    endpoint pair + vertex count + scaled-integer length (sums of
    round(seg*1e6) are associative and orientation-invariant)."""
    rows = []
    for pl in polylines:
        a, b = pl[0], pl[-1]
        if (b[0], b[1]) < (a[0], a[1]):
            a, b = b, a
        import math as _m

        ln = sum(
            round(_m.hypot(pl[i][0] - pl[i - 1][0], pl[i][1] - pl[i - 1][1]) * 1e6)
            for i in range(1, len(pl))
        )
        rows.append((a[0], a[1], b[0], b[1], len(pl), ln / 1e6))
    return rows


def q_repair_stream_vector_topology(spark, sf_dir):
    """repair_stream_vector_topology plugin (whitebox-plugins/src/
    repair_stream_vector_topology/main.rs:390-745): non-confluence chain
    joins + dangle snapping (undershoot extend / overshoot trim) + target
    splits on a fixture exercising each case. Output = orientation/id-
    insensitive arc signatures; oracle = independent serial transcription
    of the reference passes, literals embedded."""
    from whitebox_tools_spark.operators.vector_streams import (
        repair_stream_vector_topology,
    )

    df = spark.createDataFrame(
        [
            (i, [p[0] for p in pl], [p[1] for p in pl])
            for i, pl in _REPAIR_NET
        ],
        "arc_id long, xs array<double>, ys array<double>",
    )
    out = repair_stream_vector_topology(df, snap_dist=0.5)
    seglen = F.expr(
        "aggregate(sequence(1, size(xs) - 1), cast(0.0 as double), "
        "(acc, i) -> acc + round(sqrt((xs[i] - xs[i-1]) * (xs[i] - xs[i-1]) + "
        "(ys[i] - ys[i-1]) * (ys[i] - ys[i-1])) * 1e6))"
    )
    fx, fy = F.col("xs")[0], F.col("ys")[0]
    lx, ly = F.element_at("xs", -1), F.element_at("ys", -1)
    first_is_lo = (fx < lx) | ((fx == lx) & (fy <= ly))
    return out.select(
        F.when(first_is_lo, fx).otherwise(lx).alias("ex0"),
        F.when(first_is_lo, fy).otherwise(ly).alias("ey0"),
        F.when(first_is_lo, lx).otherwise(fx).alias("ex1"),
        F.when(first_is_lo, ly).otherwise(fy).alias("ey1"),
        F.size("xs").alias("n_vertices"),
        (seglen / 1e6).alias("length"),
    )


def _repair_sql() -> str:
    from whitebox_tools_spark.operators.vector_streams import repair_reference

    repaired = repair_reference([pl for _, pl in _REPAIR_NET], 0.5)
    rows = _repair_rows(repaired)
    vals = ", ".join("(" + ", ".join(repr(v) for v in row) + ")" for row in rows)
    return (
        "SELECT CAST(ex0 AS DOUBLE) AS ex0, CAST(ey0 AS DOUBLE) AS ey0, "
        "CAST(ex1 AS DOUBLE) AS ex1, CAST(ey1 AS DOUBLE) AS ey1, "
        "CAST(n_vertices AS INT) AS n_vertices, CAST(length AS DOUBLE) AS length "
        f"FROM (VALUES {vals}) AS t(ex0, ey0, ex1, ey1, n_vertices, length)"
    )


def q_local_quadratic_regression(spark, sf_dir):
    """local_quadratic_regression plugin (whitebox-plugins/src/
    local_quadratic_regression/main.rs, Wood 1996): 8 per-cell surface
    derivatives from a window-fit origin-constrained quadratic. DEM
    scaled to exact integers (round(value*10)) so every window sum is an
    integer-valued double — exact in both engines; atan outputs guarded
    with the 9-dp libm pre-quantization."""
    from whitebox_tools_spark.operators.plugins import local_quadratic_regression

    dem = _valley_dem(spark, sf_dir).withColumn("value", F.round(F.col("value") * 10.0))
    out = local_quadratic_regression(dem, STREAM_GRID, filter_size=5)
    out = out.withColumn("slope", F.round("slope", 9)).withColumn(
        "aspect", F.round("aspect", 9)
    )
    return _r6(
        out,
        ["slope", "aspect", "prof_c", "plan_c", "long_c", "cross_c",
         "procmin_c", "goodness"],
    )


def _lqr_sql() -> str:
    from whitebox_tools_spark.operators.plugins import (
        local_quadratic_regression_oracle_sql,
    )

    dem = f"SELECT row, col, round(value * 10.0) AS value FROM ({_VALLEY_DEM_SQL})"
    inner = local_quadratic_regression_oracle_sql(
        dem, filter_size=5, resolution=STREAM_GRID.res_x
    )
    return f"""
SELECT row, col, round(round(slope, 9), 6) AS slope,
       round(round(aspect, 9), 6) AS aspect,
       round(prof_c, 6) AS prof_c, round(plan_c, 6) AS plan_c,
       round(long_c, 6) AS long_c, round(cross_c, 6) AS cross_c,
       round(procmin_c, 6) AS procmin_c, round(goodness, 6) AS goodness
FROM ({inner}) t
"""


_TID_ARGS = dict(
    lat=43.545, lon=-80.248, az_fraction=30.0, max_dist=60.0,
    utc_offset=0.0, start_day=92, end_day=183,
)


def q_time_in_daylight(spark, sf_dir):
    """TimeInDaylight (terrain_analysis/time_in_daylight.rs:430-1171):
    1 - shadow-seconds/total-daylight over the valley DEM, day-of-year
    window 92-183, 30-deg azimuth bins, suncalc almanac at 43.545N
    80.248W. Engine = gated lattice-scan horizon angles (faithful
    prefix-max gate + 80-deg early stop, window functions) + almanac
    broadcast join; oracle = identical literals/window SQL in DuckDB."""
    from whitebox_tools_spark.operators.daylight import time_in_daylight

    out = time_in_daylight(_valley_dem(spark, sf_dir), STREAM_GRID, **_TID_ARGS)
    return _r6(out, ["value"])


def _time_in_daylight_sql() -> str:
    from whitebox_tools_spark.operators.daylight import time_in_daylight_oracle_sql

    inner = time_in_daylight_oracle_sql(_VALLEY_DEM_SQL, STREAM_GRID, **_TID_ARGS)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def q_map_off_terrain_objects(spark, sf_dir):
    """MapOffTerrainObjects (terrain_analysis/map_otos.rs): slope-ratio
    region growing (tan(60 deg) gate) over the spiked valley DEM; small
    segments (<5 cells) collapse to background 1, kept segments numbered
    in seed scan order (background shares id 1 — reference quirk)."""
    from whitebox_tools_spark.operators.terrain import map_off_terrain_objects

    dem = _valley_dem(spark, sf_dir).withColumn(
        "value",
        F.col("value")
        + F.when((F.col("row") * 25 + F.col("col")) % 37 == 0, 80.0).otherwise(0.0),
    )
    return map_off_terrain_objects(dem, STREAM_GRID, max_slope=60.0, min_size=5)


def _map_otos_sql() -> str:
    from whitebox_tools_spark.operators.terrain import (
        map_off_terrain_objects_oracle_sql,
    )

    dem = f"""
SELECT row, col, value + CASE WHEN (row * 25 + col) % 37 = 0 THEN 80.0 ELSE 0.0 END AS value
FROM ({_VALLEY_DEM_SQL})
"""
    return map_off_terrain_objects_oracle_sql(
        dem, STREAM_GRID, max_slope=60.0, min_size=5
    )


def q_hypsometrically_tinted_hillshade(spark, sf_dir):
    """HypsometricallyTintedHillshade (terrain_analysis/
    hypsometrically_tinted_hillshade.rs): packed-RGBA hypsometric tint x
    3x3-Horn multidirectional hillshade with percentile clips, over the
    valley DEM (atlas palette, defaults; atmospheric=0 — the reference's
    haze branch is entropy-seeded, skipped at the default)."""
    from whitebox_tools_spark.operators.terrain import (
        hypsometrically_tinted_hillshade,
    )

    return hypsometrically_tinted_hillshade(
        _valley_dem(spark, sf_dir), STREAM_GRID
    )


def _hth_sql() -> str:
    from whitebox_tools_spark.operators.terrain import hth_oracle_sql

    return hth_oracle_sql(_VALLEY_DEM_SQL, STREAM_GRID)


def q_deviation_from_regional_direction(spark, sf_dir):
    """DeviationFromRegionalDirection (gis_analysis/
    deviation_from_regional_direction.rs): per-polygon RMA orientation vs
    the elongation/long-axis-weighted axial mean; folded to [0, 90]."""
    from whitebox_tools_spark.operators.vector_ops import (
        deviation_from_regional_direction,
    )

    out = deviation_from_regional_direction(_parts_df(spark), elong_threshold=0.3)
    return _r6(out, ["dev_dir"])


def _dfrd_sql() -> str:
    """Independent transcription: reference midpoint-shifted RMA sums +
    rotating-calipers min-area box (not the engine's numpy kernel),
    literals embedded."""
    import math as _m

    def hull(pts):
        pts = sorted(set(pts))
        if len(pts) < 3:
            return pts

        def half(points):
            h = []
            for p in points:
                while len(h) >= 2 and (
                    (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                    - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
                ) <= 0:
                    h.pop()
                h.append(p)
            return h

        lower = half(pts)
        upper = half(list(reversed(pts)))
        return lower[:-1] + upper[:-1]

    def axes(pts):
        h = hull(pts)
        best = None
        for i in range(len(h)):
            x0, y0 = h[i]
            x1, y1 = h[(i + 1) % len(h)]
            ex, ey = x1 - x0, y1 - y0
            n = _m.hypot(ex, ey)
            if n == 0:
                continue
            ux, uy = ex / n, ey / n
            pu = [p[0] * ux + p[1] * uy for p in h]
            pv = [-p[0] * uy + p[1] * ux for p in h]
            w = max(pu) - min(pu)
            ht = max(pv) - min(pv)
            if best is None or w * ht < best[0]:
                best = (w * ht, max(w, ht), min(w, ht))
        return best[1], best[2]

    polys = []
    for pid, parts in PARTS:
        xs, ys, _hole = parts[0]
        pts = list(zip(xs, ys))
        # reference midpoint quirk: half-EXTENT of the record bbox
        # (rs:257-258), a constant shift per polygon
        mx = (max(xs) - min(xs)) / 2.0
        my = (max(ys) - min(ys)) / 2.0
        n = len(pts)
        sx = sum(p[0] - mx for p in pts)
        sy = sum(p[1] - my for p in pts)
        sxy = sum((p[0] - mx) * (p[1] - my) for p in pts)
        sxx_ = sum((p[0] - mx) ** 2 for p in pts)
        syy_ = sum((p[1] - my) ** 2 for p in pts)
        mean = sx / n
        sxx = sxx_ / n - mean * mean
        syy = syy_ / n - (sy / n) ** 2
        slope = _m.sqrt(syy / sxx)
        if (sxy - mean * sy) / (sxx_ - mean * sx) < 0.0:
            slope = -slope
        theta = _m.atan(slope)
        la, sa = axes(pts)
        elong = 1.0 - sa / la
        polys.append((pid, theta, la, elong))

    thr = 0.3
    ss = sum(_m.sin(2 * t) * (la * e if e >= thr else 0.0) for _, t, la, e in polys)
    sc = sum(_m.cos(2 * t) * (la * e if e >= thr else 0.0) for _, t, la, e in polys)
    regional = -_m.degrees(_m.atan2(ss, sc) / 2.0) + 90.0
    if regional < 0.0:
        regional = 180.0 + regional
    rows = []
    for pid, t, la, e in polys:
        sd = 90.0 - _m.degrees(t)
        dev = sd - regional
        if dev < 0.0:
            dev += 180.0
        if dev > 90.0:
            dev = 180.0 - dev
        rows.append((pid, _round_half_up(dev)))
    vals = ", ".join(f"({p}, {v!r})" for p, v in rows)
    return (
        "SELECT CAST(poly_id AS BIGINT) AS poly_id, CAST(dev_dir AS DOUBLE) AS dev_dir "
        f"FROM (VALUES {vals}) AS t(poly_id, dev_dir)"
    )


def q_find_flightline_edge_points(spark, sf_dir):
    """FindFlightlineEdgePoints (lidar_analysis/
    find_flightline_edge_points.rs): keep edge-of-flightline-flagged
    points (fixture flag = minstd parity of point_id — the LAS flag bit
    re-expressed as a column)."""
    from whitebox_tools_spark.operators.lidar import find_flightline_edge_points

    cloud = _order_cloud(spark, sf_dir).withColumn(
        "edge_flag", ((F.col("point_id") * 48271) % 7 == 0).cast("int")
    )
    out = find_flightline_edge_points(cloud)
    return out.select("point_id", F.round("x", 6).alias("x"),
                      F.round("y", 6).alias("y"), F.round("z", 6).alias("z"))


def _ffep_sql() -> str:
    return f"""
SELECT point_id, round(x, 6) AS x, round(y, 6) AS y, round(z, 6) AS z
FROM ({_order_cloud_cte()}) c
WHERE (point_id * 48271) % 7 = 0
"""


def q_turning_bands(spark, sf_dir):
    """TurningBandsSimulation (math_stat_analysis/turning_bands.rs):
    sum of moving-ramp-filtered normal bands projected along random
    lines, 1/sqrt(n) scaled; deterministic minstd streams replace the
    reference's entropy RNG (the repo's RND convention)."""
    from whitebox_tools_spark.operators.random import turning_bands_simulation

    out = turning_bands_simulation(
        spark, STREAM_GRID, range_dist=40.0, iterations=8, seed=7
    )
    return _r6(out, ["value"])


def _turning_bands_sql() -> str:
    from whitebox_tools_spark.operators.random import turning_bands_oracle_sql

    inner = turning_bands_oracle_sql(
        STREAM_GRID, range_dist=40.0, iterations=8, seed=7
    )
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


_SWL_INPUT = [
    (1, [(0.0, 0.0), (10.0, 0.3), (20.0, 0.1)]),
    (2, [(0.0, 5.0), (20.0, 5.4)]),
    (3, [(2.0, -3.0), (2.2, 8.0)]),       # crosses both 1 and 2
    (4, [(30.0, 0.0), (30.0, 9.0)]),      # no intersections
]
_SWL_SPLIT = [
    (11, [(5.0, -2.0), (5.3, 9.0)]),
    (12, [(15.0, -2.0), (14.7, 9.0)]),
    (13, [(-1.0, 2.0), (21.0, 2.3)]),     # crosses 3
]


def q_split_with_lines(spark, sf_dir):
    """SplitWithLines, POLYLINE case (gis_analysis/split_with_lines.rs):
    split input polylines at intersections with the split layer;
    cell-cover candidate join + shared split kernel. Output = per-piece
    signatures (endpoints + vertex count + 1e-6-scaled length)."""
    from whitebox_tools_spark.operators.vector_streams import split_with_lines

    lines = spark.createDataFrame(
        [(i, [p[0] for p in pl], [p[1] for p in pl]) for i, pl in _SWL_INPUT],
        "line_id long, xs array<double>, ys array<double>",
    )
    splits = spark.createDataFrame(
        [(i, [p[0] for p in pl], [p[1] for p in pl]) for i, pl in _SWL_SPLIT],
        "sid long, xs array<double>, ys array<double>",
    )
    out = split_with_lines(lines, splits)
    seglen = F.expr(
        "aggregate(sequence(1, size(xs) - 1), cast(0.0 as double), "
        "(acc, i) -> acc + round(sqrt((xs[i] - xs[i-1]) * (xs[i] - xs[i-1]) + "
        "(ys[i] - ys[i-1]) * (ys[i] - ys[i-1])) * 1e6))"
    )
    return out.select(
        "line_id", "piece", F.size("xs").alias("n_vertices"),
        (seglen / 1e6).alias("length"),
        F.round(F.col("xs")[0], 6).alias("fx"), F.round(F.col("ys")[0], 6).alias("fy"),
        F.round(F.element_at("xs", -1), 6).alias("lx"),
        F.round(F.element_at("ys", -1), 6).alias("ly"),
    )


def _swl_sql() -> str:
    """Independent serial transcription: brute-force pairwise segment
    intersections + along-line-ordered cuts (no shared engine code)."""
    import math as _m

    def inters(pl, spl):
        pts = []
        for si in range(len(pl) - 1):
            ax, ay = pl[si]
            bx, by = pl[si + 1]
            for q in spl:
                for k in range(len(q) - 1):
                    cx, cy = q[k]
                    dx, dy = q[k + 1]
                    den = (ax - bx) * (cy - dy) - (ay - by) * (cx - dx)
                    if den == 0.0:
                        continue
                    t = ((ax - cx) * (cy - dy) - (ay - cy) * (cx - dx)) / den
                    u = -((ax - bx) * (ay - cy) - (ay - by) * (ax - cx)) / den
                    if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
                        pts.append((si, t, (ax + t * (bx - ax), ay + t * (by - ay))))
        return sorted(set(pts))

    spl = [pl for _, pl in _SWL_SPLIT]
    rows = []
    for lid, pl in _SWL_INPUT:
        cuts = inters(pl, spl)
        pieces = []
        cur = [pl[0]]
        ci = 0
        for si in range(len(pl) - 1):
            while ci < len(cuts) and cuts[ci][0] == si:
                cur.append(cuts[ci][2])
                pieces.append(cur)
                cur = [cuts[ci][2]]
                ci += 1
            cur.append(pl[si + 1])
        if len(cur) > 1:
            pieces.append(cur)
        for pidx, piece in enumerate(pieces):
            piece = [
                p for i, p in enumerate(piece)
                if i == 0 or _m.hypot(p[0] - piece[i - 1][0], p[1] - piece[i - 1][1]) > 1e-9
            ]
            if len(piece) < 2:
                continue
            ln = sum(
                round(_m.hypot(piece[i][0] - piece[i - 1][0], piece[i][1] - piece[i - 1][1]) * 1e6)
                for i in range(1, len(piece))
            )
            rows.append((
                lid, pidx, len(piece), ln / 1e6,
                _round_half_up(piece[0][0]), _round_half_up(piece[0][1]),
                _round_half_up(piece[-1][0]), _round_half_up(piece[-1][1]),
            ))
    vals = ", ".join("(" + ", ".join(repr(v) for v in r) + ")" for r in rows)
    return (
        "SELECT CAST(line_id AS BIGINT) AS line_id, CAST(piece AS INT) AS piece, "
        "CAST(n_vertices AS INT) AS n_vertices, CAST(length AS DOUBLE) AS length, "
        "CAST(fx AS DOUBLE) AS fx, CAST(fy AS DOUBLE) AS fy, "
        "CAST(lx AS DOUBLE) AS lx, CAST(ly AS DOUBLE) AS ly "
        f"FROM (VALUES {vals}) AS t(line_id, piece, n_vertices, length, fx, fy, lx, ly)"
    )


_POLYGONIZE_LINES = [
    (1, [(0.0, 1.0), (21.0, 1.6)]),
    (2, [(0.0, 7.0), (21.0, 7.5)]),
    (3, [(0.0, 13.0), (21.0, 13.2)]),
    (4, [(1.0, -1.0), (1.8, 15.0)]),
    (5, [(10.0, -1.0), (10.4, 15.0)]),
    (6, [(19.0, -1.0), (19.5, 15.0)]),
    (7, [(0.0, 0.0), (20.0, 14.0)]),   # diagonal: splits faces it crosses
]


def q_polygonize(spark, sf_dir):
    """Polygonize (gis_analysis/polygonize.rs): enclosed faces of an
    intersecting line set. Engine = distributed planar arrangement
    (cell-cover noding, per-vertex rotation successor join, pointer-
    doubled face cycles, associative-exact quantized shoelace); oracle =
    independent serial half-edge polygonizer. The face AREA multiset of a
    planar subdivision is implementation-invariant — the comparison key."""
    from whitebox_tools_spark.operators.vector_streams import polygonize

    lines = spark.createDataFrame(
        [(i, [p[0] for p in pl], [p[1] for p in pl]) for i, pl in _POLYGONIZE_LINES],
        "line_id long, xs array<double>, ys array<double>",
    )
    out = polygonize(lines)
    return out.select(F.round("area", 6).alias("area"))


def _polygonize_sql() -> str:
    import math as _m

    segs = []
    for _, pl in _POLYGONIZE_LINES:
        for i in range(len(pl) - 1):
            segs.append((pl[i], pl[i + 1]))
    # node every segment at its intersections with all others
    edges = []
    for si, (a, b) in enumerate(segs):
        cuts = [0.0, 1.0]
        for sj, (c, dpt) in enumerate(segs):
            if sj == si:
                continue
            den = (a[0] - b[0]) * (c[1] - dpt[1]) - (a[1] - b[1]) * (c[0] - dpt[0])
            if den == 0.0:
                continue
            t = ((a[0] - c[0]) * (c[1] - dpt[1]) - (a[1] - c[1]) * (c[0] - dpt[0])) / den
            u = -((a[0] - b[0]) * (a[1] - c[1]) - (a[1] - b[1]) * (a[0] - c[0])) / den
            if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
                cuts.append(t)
        cuts = sorted(set(cuts))
        pts = [
            (a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])) for t in cuts
        ]
        for i in range(len(pts) - 1):
            if pts[i] != pts[i + 1]:
                edges.append((pts[i], pts[i + 1]))

    def k(p):
        return (round(p[0], 9), round(p[1], 9))

    # half-edge successor: rotate clockwise from the reversed incoming
    out_at: dict = {}
    hes = []
    for ei, (p, q) in enumerate(edges):
        hes.append((p, q))
        hes.append((q, p))
        out_at.setdefault(k(p), []).append(2 * ei)
        out_at.setdefault(k(q), []).append(2 * ei + 1)

    def ang(h):
        p, q = hes[h]
        return _m.atan2(q[1] - p[1], q[0] - p[0])

    nxt = {}
    for h in range(len(hes)):
        p, q = hes[h]
        rev_ang = _m.atan2(p[1] - q[1], p[0] - q[0])
        outs = out_at[k(q)]
        below = [o for o in outs if ang(o) < rev_ang]
        pool = below if below else outs
        nxt[h] = max(pool, key=ang)
    seen = set()
    areas = []
    for h0 in range(len(hes)):
        if h0 in seen:
            continue
        cyc = []
        h = h0
        while h not in seen:
            seen.add(h)
            cyc.append(h)
            h = nxt[h]
        s = 0.0
        for hh in cyc:
            p, q = hes[hh]
            s += round((p[0] * q[1] - q[0] * p[1]) * 1e6)
        area = s / 2e6
        if area > 0.0:
            areas.append(_round_half_up(area))
    vals = ", ".join(f"({a!r})" for a in areas)
    return f"SELECT CAST(area AS DOUBLE) AS area FROM (VALUES {vals}) AS t(area)"


def _bsc_fixture():
    """25x25 raster: 0 background + three well-separated polygons —
    a solid square (simple), a plus-with-spurs (complex), an L."""
    import numpy as np

    g = np.zeros((25, 25), dtype=np.int64)
    g[2:8, 2:8] = 1                      # solid square
    g[12:14, 2:12] = 2                   # plus / comb
    g[8:18, 6:8] = 2
    g[15:17, 9:12] = 2
    g[9:11, 9:11] = 2
    g[20:24, 14:24] = 3                  # L
    g[14:20, 20:24] = 3
    return g


def q_boundary_shape_complexity(spark, sf_dir):
    """BoundaryShapeComplexity (gis_analysis/boundary_shape_complexity.rs):
    per-polygon skeleton exterior-link percentage, written to each cell;
    per-polygon Arrow kernels (polygons non-8-adjacent)."""
    from whitebox_tools_spark.operators.binary_morph import (
        boundary_shape_complexity,
    )

    g = _bsc_fixture()
    cells = spark.createDataFrame(
        [(r, c, float(g[r, c])) for r in range(g.shape[0]) for c in range(g.shape[1])],
        "row long, col long, value double",
    )
    return _r6(boundary_shape_complexity(cells), ["value"])


def _bsc_sql() -> str:
    """Independent full-raster transcription (its own thinning masks and
    walk loop over the whole grid, not the engine's per-poly kernel)."""
    g = _bsc_fixture()
    h, w = g.shape
    dx1 = [1, 1, 1, 0, -1, -1, -1, 0]
    dy1 = [-1, 0, 1, 1, 1, 0, -1, -1]
    e1 = [[6, 7, 0, 4, 3, 2], [0, 1, 2, 4, 5, 6], [2, 3, 4, 6, 7, 0], [4, 5, 6, 0, 1, 2]]
    e2 = [[7, 0, 1, 3, 5], [1, 2, 3, 5, 7], [3, 4, 5, 7, 1], [5, 6, 7, 1, 3]]
    v1 = [0, 0, 0, 1, 1, 1]
    v2 = [0, 0, 0, 1, 1]
    sk = {(r, c): 1 for r in range(h) for c in range(w) if g[r, c] > 0}

    def nb1(r, c, i):
        return sk.get((r + dy1[i], c + dx1[i]), 0)

    did = True
    while did:
        did = False
        for a in range(4):
            for r in range(h):
                for c in range(w):
                    if sk.get((r, c), 0) == 1:
                        if all(nb1(r, c, e1[a][i]) == v1[i] for i in range(6)) or all(
                            nb1(r, c, e2[a][i]) == v2[i] for i in range(5)
                        ):
                            sk[(r, c)] = 0
                            did = True
    dx = [-1, -1, 0, 1, 1, 1, 0, -1]
    dy = [0, -1, -1, -1, 0, 1, 1, 1]
    stats = {}
    visited = set()
    for r in range(h):
        for c in range(w):
            if sk.get((r, c), 0) == 1:
                pid = int(g[r, c])
                st = stats.setdefault(pid, [0, 0.0, 0, 0])  # cells, total, longest, second
                st[0] += 1
                n = sum(
                    1 for a in range(8)
                    if sk.get((r + dy[a], c + dx[a]), 0) == 1
                    and g[min(max(r + dy[a], 0), h - 1), min(max(c + dx[a], 0), w - 1)] == pid
                )
                if n == 1:
                    st[1] += 1.0
                    rn, cn = r, c
                    ll = 1
                    while True:
                        visited.add((rn, cn))
                        n2 = 0
                        nxt = None
                        for a in range(8):
                            rr, cc = rn + dy[a], cn + dx[a]
                            if sk.get((rr, cc), 0) == 1 and g[rr, cc] == pid:
                                n2 += 1
                                if (rr, cc) not in visited:
                                    nxt = a
                        if n2 < 3 and nxt is not None:
                            ll += 1
                            rn += dy[nxt]
                            cn += dx[nxt]
                        else:
                            break
                    st[1] += ll
                    if st[2] < ll:
                        st[3] = st[2]
                        st[2] = ll
                    elif st[3] < ll:
                        st[3] = ll
    bsc = {
        pid: (100.0 * (st[1] - st[2] - st[3]) / st[0] if st[0] else 0.0)
        for pid, st in stats.items()
    }
    rows = []
    for r in range(h):
        for c in range(w):
            pid = int(g[r, c])
            v = 0.0 if pid == 0 else bsc.get(pid, 0.0)
            rows.append((r, c, _round_half_up(v)))
    vals = ", ".join(f"({r}, {c}, {v!r})" for r, c, v in rows)
    return (
        "SELECT CAST(row AS BIGINT) AS row, CAST(col AS BIGINT) AS col, "
        "CAST(value AS DOUBLE) AS value "
        f"FROM (VALUES {vals}) AS t(row, col, value)"
    )


_GSS_ARGS = dict(sigma=0.0, step=1.5, num_steps=4, lsp="slope")


def _valley_dem_synthetic(spark):
    """The valley DEM formula over spark.range(500) — sf-independent
    (the part-table variant has only 200 rows at sf0.001, but the GSS
    oracle embeds full-grid literals)."""
    pk = F.col("id") + 1
    r = (pk - 1) % 20
    c = F.floor((pk - 1) / F.lit(20)).cast("long")
    v = (
        F.abs(r - 10).cast("double") * 50.0
        + (25 - c).cast("double") * 2.0
        + ((pk * 31) % 7).cast("double") * 0.1
        + F.when((c % 4 == 1) & (r != 10), -45.0).otherwise(0.0)
    )
    return spark.range(500).select(r.alias("row"), c.alias("col"), v.alias("value"))


def q_gaussian_scale_space(spark, sf_dir):
    """gaussian_scale_space plugin (whitebox-plugins/src/
    gaussian_scale_space/main.rs, Newman 2018): optimal-scale slope over
    sigmas {0, 1.5, 3, 4.5} — identity, exact-gaussian and 6-box
    fast-gaussian regimes all exercised; per-cell argmax |z-score| picks
    (v_opt, z_opt, g_opt)."""
    from whitebox_tools_spark.operators.multiscale import gaussian_scale_space

    out = gaussian_scale_space(_valley_dem_synthetic(spark), STREAM_GRID, **_GSS_ARGS)
    return out.select(
        "row", "col",
        F.round(F.round("v_opt", 9), 6).alias("v_opt"),
        F.round(F.round("z_opt", 9), 6).alias("z_opt"),
        F.round("g_opt", 6).alias("g_opt"),
    )


def _gss_sql() -> str:
    """Independent serial numpy transcription of the whole pipeline
    (kernel conv in row-major order, cumsum integrals, clamped rect sums,
    per-scale z-scores, strict-greater argmax), literals embedded."""
    import numpy as np

    from whitebox_tools_spark.operators.multiscale import (
        _gauss_weights,
        _gss_scales,
    )

    g = STREAM_GRID
    rows, cols, res = g.rows, g.cols, g.res_x
    # rebuild the valley DEM values exactly (mirrors _VALLEY_DEM_SQL)
    dem = np.zeros((rows, cols))
    for pk in range(1, 501):
        r = (pk - 1) % 20
        c = (pk - 1) // 20
        v = abs(r - 10) * 50.0 + (25 - c) * 2.0 + ((pk * 31) % 7) * 0.1
        if c % 4 == 1 and r != 10:
            v += -45.0
        dem[r, c] = v

    best = {}
    for si, sc in enumerate(
        _gss_scales(_GSS_ARGS["sigma"], _GSS_ARGS["step"], _GSS_ARGS["num_steps"])
    ):
        if sc["fast"] is None and sc["sigma"] == 0.0:
            sm = dem.copy()
        elif sc["fast"] is None:
            ws = _gauss_weights(sc["sigma"])
            sm = np.zeros_like(dem)
            for r in range(rows):
                for c in range(cols):
                    s = z = 0.0
                    for _, dx, dy, w in ws:
                        rr, cc = r + dy, c + dx
                        if 0 <= rr < rows and 0 <= cc < cols:
                            s += w
                            z += w * dem[rr, cc]
                    sm[r, c] = z / s
        else:
            n_boxes, m, wl, wu = sc["fast"]
            sm = dem.copy()
            ninteg = np.cumsum(np.cumsum(np.ones_like(dem), axis=1), axis=0)
            for it in range(n_boxes):
                mid = int(np.floor((wl if it <= m else wu) / 2.0))
                integ = np.cumsum(np.cumsum(sm, axis=1), axis=0)
                nxt = np.zeros_like(sm)
                for r in range(rows):
                    y1 = max(r - mid - 1, 0)
                    y2 = min(r + mid, rows - 1)
                    for c in range(cols):
                        x1 = max(c - mid - 1, 0)
                        x2 = min(c + mid, cols - 1)
                        s = integ[y2, x2] - integ[y1, x2] - integ[y2, x1] + integ[y1, x1]
                        nn = ninteg[y2, x2] - ninteg[y1, x2] - ninteg[y2, x1] + ninteg[y1, x1]
                        nxt[r, c] = s / nn
                sm = nxt
        buf = sc["buffer"]
        ring = [(1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1)]
        lspv = {}
        s_sum = sq_sum = 0.0
        nvals = 0
        for r in range(buf, rows - buf):
            for c in range(buf, cols - buf):
                n8 = sm[r, c]
                nb = []
                for dx, dy in ring:
                    rr, cc = r + dy, c + dx
                    nb.append(sm[rr, cc] if 0 <= rr < rows and 0 <= cc < cols else n8)
                fy = (nb[6] - nb[4] + 2.0 * (nb[7] - nb[3]) + nb[0] - nb[2]) / (8.0 * res)
                fx = (nb[2] - nb[4] + 2.0 * (nb[1] - nb[5]) + nb[0] - nb[6]) / (8.0 * res)
                v = np.sqrt(fx * fx + fy * fy) * 100.0
                lspv[(r, c)] = v
                s_sum += v
                sq_sum += v * v
                nvals += 1
        mean = s_sum / nvals
        sd = np.sqrt(sq_sum / nvals - mean * mean)
        for (r, c), v in lspv.items():
            z = (v - mean) / sd
            cur = best.get((r, c))
            if cur is None or abs(z) > abs(cur[1]):
                best[(r, c)] = (v, z, sc["sigma_actual"])
    rows_out = [
        (r, c, _round_half_up(round(v, 9)), _round_half_up(round(z, 9)), _round_half_up(gg))
        for (r, c), (v, z, gg) in best.items()
    ]
    vals = ", ".join(
        f"({r}, {c}, {v!r}, {z!r}, {gg!r})" for r, c, v, z, gg in rows_out
    )
    return (
        "SELECT CAST(row AS BIGINT) AS row, CAST(col AS BIGINT) AS col, "
        "CAST(v_opt AS DOUBLE) AS v_opt, CAST(z_opt AS DOUBLE) AS z_opt, "
        "CAST(g_opt AS DOUBLE) AS g_opt "
        f"FROM (VALUES {vals}) AS t(row, col, v_opt, z_opt, g_opt)"
    )


_TSP_KEYS = 36


def q_travelling_salesman(spark, sf_dir):
    """travelling_salesman_problem plugin: best NN+2-opt tour over
    parallel deterministic restarts (fixture: 36 LCG points)."""
    from whitebox_tools_spark.operators.plugins import travelling_salesman_problem

    x, y = synth.point_exprs(F.col("id"))
    pts = spark.range(1, _TSP_KEYS + 1).select(
        F.col("id").alias("point_id"), x.alias("x"), y.alias("y")
    )
    return travelling_salesman_problem(pts)


def _tsp_sql() -> str:
    """Independent serial transcription of the restart sweep (its own
    NN + 2-opt loop), literal best tour embedded."""
    import math as _m

    import numpy as np

    keys = np.arange(1, _TSP_KEYS + 1)
    px, py = synth.point_np(keys)

    def dist(i, j):
        return _m.hypot(px[i] - px[j], py[i] - py[j])

    n = len(keys)
    best = None
    for start in range(n):
        left = set(range(n))
        left.remove(start)
        tour = [start]
        while left:
            cur = tour[-1]
            nxt = min(left, key=lambda j: ((px[j] - px[cur]) ** 2 + (py[j] - py[cur]) ** 2, j))
            tour.append(nxt)
            left.remove(nxt)
        changed = True
        while changed:
            changed = False
            for i in range(n - 1):
                for k in range(i + 2, n):
                    a, b = tour[i], tour[i + 1]
                    c, e = tour[k], tour[(k + 1) % n]
                    if a == e:
                        continue
                    if dist(a, c) + dist(b, e) < dist(a, b) + dist(c, e) - 1e-12:
                        tour[i + 1 : k + 1] = reversed(tour[i + 1 : k + 1])
                        changed = True
        ln = sum(dist(tour[i], tour[(i + 1) % n]) for i in range(n))
        if best is None or (ln, start) < best[:2]:
            best = (ln, start, list(tour))
    rows = [(seq, int(keys[idx])) for seq, idx in enumerate(best[2])]
    vals = ", ".join(f"({s}, {p})" for s, p in rows)
    return (
        "SELECT CAST(seq AS INT) AS seq, CAST(point_id AS BIGINT) AS point_id "
        f"FROM (VALUES {vals}) AS t(seq, point_id)"
    )


_CLHS_ARGS = dict(num_samples=12, max_iter=40, seed=5)


def _clhs_raster2(spark):
    pk = F.col("id") + 1
    r = (pk - 1) % 20
    c = F.floor((pk - 1) / F.lit(20)).cast("long")
    v = ((pk * 7919) % 997).cast("double")
    return spark.range(500).select(r.alias("row"), c.alias("col"), v.alias("value"))


def q_conditioned_latin_hypercube(spark, sf_dir):
    """conditioned_latin_hypercube plugin: annealed latin-hypercube
    sampling over two integer-valued synthetic covariates (deterministic
    minstd streams per the RND convention; the reference's seeded StdRng
    is ChaCha-based and not practically bit-reproducible)."""
    from whitebox_tools_spark.operators.plugins import conditioned_latin_hypercube

    r1 = _valley_dem_synthetic(spark).withColumn("value", F.round("value"))
    r2 = _clhs_raster2(spark)
    out = conditioned_latin_hypercube(
        [r1, r2], STREAM_GRID, **_CLHS_ARGS
    )
    return _r6(out, ["x", "y", "value"])


def _clhs_sql() -> str:
    """Serial mirror: numpy raster rebuilds + the same distributed-stat
    algebra computed serially (exact with integer-valued inputs), same
    anneal transcription."""
    import numpy as np

    from whitebox_tools_spark.operators.plugins import (
        _clhs_hash,
        _Minstd,
        clhs_anneal,
    )

    g = STREAM_GRID
    rows, cols = g.rows, g.cols
    dem = np.zeros((rows, cols))
    r2 = np.zeros((rows, cols))
    for pk in range(1, 501):
        r = (pk - 1) % 20
        c = (pk - 1) // 20
        v = abs(r - 10) * 50.0 + (25 - c) * 2.0 + ((pk * 31) % 7) * 0.1
        if c % 4 == 1 and r != 10:
            v += -45.0
        dem[r, c] = round(v)
        r2[r, c] = float((pk * 7919) % 997)
    rasters = [dem, r2]
    ns, mi, seed = _CLHS_ARGS["num_samples"], _CLHS_ARGS["max_iter"], _CLHS_ARGS["seed"]
    num_bins = 25000
    rng = _Minstd(seed)
    kf = [rng.uniform() for _ in range(2)]
    ksum = sum(kf)
    k_pool = [int(np.ceil(v / ksum * mi)) for v in kf]
    quantiles = []
    pools = []
    for k, ras in enumerate(rasters):
        vals = ras.ravel()
        mn, mx, n = float(vals.min()), float(vals.max()), len(vals)
        binsize = (mx - mn) / num_bins
        hvec = np.zeros(num_bins)
        for v in vals:
            b = int(np.floor((v - mn) / binsize))
            b = min(b, num_bins - 1)
            hvec[b] += 1
        cdf = np.cumsum(hvec) / n
        qs = []
        for s in range(ns):
            stratum = (s + 1) / ns
            b = 0
            for bb in range(num_bins):
                if cdf[bb] <= stratum:
                    b = bb
                else:
                    break
            qs.append(mn + b * binsize)
        quantiles.append(qs)
        order = sorted(
            range(rows * cols),
            key=lambda i: (_clhs_hash(i, seed + k + 1), i),
        )
        for i in order[: ns + k_pool[k]]:
            rr, cc = i // cols, i % cols
            zs = float(ras[rr, cc])
            qpos = next((j for j, q in enumerate(qs) if zs <= q), len(qs) - 1)
            pools.append(
                dict(k=k, x=g.x_center(cc), y=g.y_center(rr), q=qpos, v=zs)
            )
    cormat = [[1.0, 0.0], [0.0, 1.0]]
    n = rows * cols
    sa, sb = dem.sum(), r2.sum()
    ma, mb = sa / n, sb / n
    ta = (dem * dem).sum() - n * ma * ma
    tb = (r2 * r2).sum() - n * mb * mb
    tab = (dem * r2).sum() - n * ma * mb
    cormat[0][1] = cormat[1][0] = tab / np.sqrt(ta * tb)
    samples = clhs_anneal(
        pools, quantiles, cormat, num_samples=ns, max_iter=mi, rng=rng,
        temp=1.0, temp_decay=0.95, anneal_cycle=10, rs_prob=0.5,
    )
    rows_out = [
        (i + 1, _round_half_up(s["x"]), _round_half_up(s["y"]), _round_half_up(s["v"]), s["k"])
        for i, s in enumerate(samples)
    ]
    vals = ", ".join(
        f"({f}, {x!r}, {y!r}, {v!r}, {src})" for f, x, y, v, src in rows_out
    )
    return (
        "SELECT CAST(fid AS INT) AS fid, CAST(x AS DOUBLE) AS x, "
        "CAST(y AS DOUBLE) AS y, CAST(value AS DOUBLE) AS value, "
        "CAST(source AS INT) AS source "
        f"FROM (VALUES {vals}) AS t(fid, x, y, value, source)"
    )


def q_las_to_shapefile(spark, sf_dir):
    """LasToShapefile (lidar_analysis/las_to_shapefile.rs): cloud ->
    per-point vector features with LAS attributes."""
    from whitebox_tools_spark.operators.lidar import las_to_shapefile_points

    out = las_to_shapefile_points(_order_cloud(spark, sf_dir))
    return out.select(
        "fid", "point_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"),
        F.round("z_attr", 6).alias("z_attr"), "class",
    )


def _las_to_shapefile_sql() -> str:
    return f"""
SELECT CAST(row_number() OVER (ORDER BY point_id) AS BIGINT) AS fid,
       point_id, round(x, 6) AS x, round(y, 6) AS y,
       round(z, 6) AS z_attr, CAST(classification AS INT) AS class
FROM ({_order_cloud_cte()}) c
"""


def q_las_to_multipoint(spark, sf_dir):
    """LasToMultipointShapefile (lidar_analysis/
    las_to_multipoint_shapefile.rs): one MultiPointZ feature per class
    (the reference packs whole tiles; per-class grouping exercises the
    group path)."""
    from whitebox_tools_spark.operators.lidar import las_to_multipoint_features

    out = las_to_multipoint_features(
        _order_cloud(spark, sf_dir), group="classification"
    )
    return _r6(out, ["x_min", "x_max", "y_min", "y_max", "z_min", "z_max"])


def _las_to_multipoint_sql() -> str:
    return f"""
SELECT CAST(classification AS BIGINT) AS feature_id, count(*) AS n_points,
       round(min(x), 6) AS x_min, round(max(x), 6) AS x_max,
       round(min(y), 6) AS y_min, round(max(y), 6) AS y_max,
       round(min(z), 6) AS z_min, round(max(z), 6) AS z_max
FROM ({_order_cloud_cte()}) c GROUP BY classification
"""


_BSAR_STREAMS = [
    (1, [(22.6, 5.0), (22.4, 95.0)]),
    (2, [(77.4, 5.0), (77.6, 95.0)]),
]
_BSAR_ROADS = [(11, [(2.0, 52.6), (123.0, 52.4)])]


def q_burn_streams_at_roads(spark, sf_dir):
    """BurnStreamsAtRoads (hydro_analysis/burn_streams_at_roads.rs,
    Lindsay 2016): lower stream elevations through road embankments
    (double-DFS walk per intersection, min-combined burns)."""
    from whitebox_tools_spark.operators.hydro import burn_streams_at_roads

    streams = spark.createDataFrame(
        [(i, [p[0] for p in pl], [p[1] for p in pl]) for i, pl in _BSAR_STREAMS],
        "line_id long, xs array<double>, ys array<double>",
    )
    roads = spark.createDataFrame(
        [(i, [p[0] for p in pl], [p[1] for p in pl]) for i, pl in _BSAR_ROADS],
        "line_id long, xs array<double>, ys array<double>",
    )
    out = burn_streams_at_roads(
        _valley_dem_synthetic(spark), streams, roads, STREAM_GRID, road_width=30.0
    )
    return _r6(out, ["value"])


def _bsar_sql() -> str:
    """Independent serial transcription: scanline rasterization +
    (row, col)-ordered downgrades + its own double-DFS walk."""
    import math as _m

    import numpy as np

    g = STREAM_GRID
    rows, cols = g.rows, g.cols
    dem = np.zeros((rows, cols))
    for pk in range(1, 501):
        r = (pk - 1) % 20
        c = (pk - 1) // 20
        v = abs(r - 10) * 50.0 + (25 - c) * 2.0 + ((pk * 31) % 7) * 0.1
        if c % 4 == 1 and r != 10:
            v += -45.0
        dem[r, c] = v

    def rasterize(lines):
        cells = set()
        for _, pl in lines:
            for (x, y) in (pl[0], pl[-1]):
                cells.add((int(g.row_of(np.array([y]))[0]), int(g.col_of(np.array([x]))[0])))
            for i in range(len(pl) - 1):
                (x0, y0), (x1, y1) = pl[i], pl[i + 1]
                rt = int(g.row_of(np.array([max(y0, y1)]))[0])
                rb = int(g.row_of(np.array([min(y0, y1)]))[0])
                for r in range(max(rt, 0), min(rb, rows - 1) + 1):
                    yr = g.y_center(r)
                    if min(y0, y1) <= yr <= max(y0, y1) and y1 != y0:
                        xp = x0 + (yr - y0) / (y1 - y0) * (x1 - x0)
                        cc = int(g.col_of(np.array([xp]))[0])
                        if 0 <= cc < cols:
                            cells.add((r, cc))
                cl = int(g.col_of(np.array([min(x0, x1)]))[0])
                cr = int(g.col_of(np.array([max(x0, x1)]))[0])
                for c in range(max(cl, 0), min(cr, cols - 1) + 1):
                    xc = g.x_center(c)
                    if min(x0, x1) <= xc <= max(x0, x1) and x1 != x0:
                        yp = y0 + (xc - x0) / (x1 - x0) * (y1 - y0)
                        rr = int(g.row_of(np.array([yp]))[0])
                        if 0 <= rr < rows:
                            cells.add((rr, c))
        return {c for c in cells if 0 <= c[0] < rows and 0 <= c[1] < cols}

    sc = rasterize(_BSAR_STREAMS)
    rc = rasterize(_BSAR_ROADS)
    inters = sorted(sc & rc)
    dx = [1, 1, 1, 0, -1, -1, -1, 0]
    dy = [-1, 0, 1, 1, 1, 0, -1, -1]
    iset = set(inters)
    for (r, c) in inters:
        if any((r + dy[d], c + dx[d]) in iset for d in range(8)):
            iset.discard((r, c))
    wic = int(_m.ceil(30.0 / 5.0)) // 2
    max_elev = float(dem.max())
    out = dem.copy()
    for (ir, ic) in sorted(iset):
        state = {cell: 1 for cell in sc if cell != (ir, ic)}
        minz = max_elev
        for e in range(8):
            nb = (ir + dy[e], ic + dx[e])
            if state.get(nb) == 1:
                stack = [(nb[0], nb[1], 1)]
                state[nb] = 3
                while stack:
                    r, c, dd = stack.pop()
                    minz = min(minz, dem[r, c])
                    if dd + 1 < wic:
                        for d in range(8):
                            n2 = (r + dy[d], c + dx[d])
                            if state.get(n2) == 1:
                                state[n2] = 3
                                stack.append((n2[0], n2[1], dd + 1))
        out[ir, ic] = minz
        for e in range(8):
            nb = (ir + dy[e], ic + dx[e])
            if state.get(nb) == 3:
                stack = [(nb[0], nb[1], 1)]
                while stack:
                    r, c, dd = stack.pop()
                    if out[r, c] > minz:
                        out[r, c] = minz
                    if dd + 1 < wic:
                        for d in range(8):
                            n2 = (r + dy[d], c + dx[d])
                            if state.get(n2) == 3:
                                state[n2] = 1
                                stack.append((n2[0], n2[1], dd + 1))
    rows_out = [
        (r, c, _round_half_up(float(out[r, c])))
        for r in range(rows) for c in range(cols)
    ]
    vals = ", ".join(f"({r}, {c}, {v!r})" for r, c, v in rows_out)
    return (
        "SELECT CAST(row AS BIGINT) AS row, CAST(col AS BIGINT) AS col, "
        "CAST(value AS DOUBLE) AS value "
        f"FROM (VALUES {vals}) AS t(row, col, value)"
    )


_EM_ROADS = [(1, [(4.0, 12.0), (60.0, 55.0), (121.0, 63.0)])]
_EM_PARAMS = dict(
    search_dist=10.0, min_road_width=6.0, typical_width=30.0,
    max_height=20.0, max_width=60.0, max_increment=0.05, spillout_slope=4.0,
)


def q_embankment_mapping(spark, sf_dir):
    """EmbankmentMapping (terrain_analysis/embankment_mapping.rs, mapping
    mode): boolean embankment cells from seed-repositioned road cells +
    distance-flood + rule-based region growth over the valley DEM."""
    from whitebox_tools_spark.operators.terrain import embankment_mapping

    roads = spark.createDataFrame(
        [(i, [p[0] for p in pl], [p[1] for p in pl]) for i, pl in _EM_ROADS],
        "line_id long, xs array<double>, ys array<double>",
    )
    return embankment_mapping(
        _valley_dem_synthetic(spark), roads, STREAM_GRID, **_EM_PARAMS
    )


def _embankment_serial():
    """Independent serial transcription: its own rasterization, seed
    scan, heap flood and growth rules over the full raster. Returns
    (dem ndarray, out dict of embankment cells) so both the mapping
    oracle and the remove-mode oracle share one transcription."""
    import heapq
    import math as _m

    import numpy as np

    g = STREAM_GRID
    rows, cols = g.rows, g.cols
    dem = np.zeros((rows, cols))
    for pk in range(1, 501):
        r = (pk - 1) % 20
        c = (pk - 1) // 20
        v = abs(r - 10) * 50.0 + (25 - c) * 2.0 + ((pk * 31) % 7) * 0.1
        if c % 4 == 1 and r != 10:
            v += -45.0
        dem[r, c] = v

    # rasterize roads (scanline crossings + endpoints)
    roads = set()
    for _, pl in _EM_ROADS:
        for (x, y) in (pl[0], pl[-1]):
            roads.add((int(np.floor((g.north - y) / g.res_y)), int(np.floor((x - g.west) / g.res_x))))
        for i in range(len(pl) - 1):
            (x0, y0), (x1, y1) = pl[i], pl[i + 1]
            rt = int(np.floor((g.north - max(y0, y1)) / g.res_y))
            rb = int(np.floor((g.north - min(y0, y1)) / g.res_y))
            for r in range(max(rt, 0), min(rb, rows - 1) + 1):
                yr = g.y_center(r)
                if min(y0, y1) <= yr <= max(y0, y1) and y1 != y0:
                    xp = x0 + (yr - y0) / (y1 - y0) * (x1 - x0)
                    cc = int(np.floor((xp - g.west) / g.res_x))
                    if 0 <= cc < cols:
                        roads.add((r, cc))
            cl = int(np.floor((min(x0, x1) - g.west) / g.res_x))
            cr = int(np.floor((max(x0, x1) - g.west) / g.res_x))
            for c in range(max(cl, 0), min(cr, cols - 1) + 1):
                xc = g.x_center(c)
                if min(x0, x1) <= xc <= max(x0, x1) and x1 != x0:
                    yp = y0 + (xc - x0) / (x1 - x0) * (y1 - y0)
                    rr = int(np.floor((g.north - yp) / g.res_y))
                    if 0 <= rr < rows:
                        roads.add((rr, c))
    roads = {c for c in roads if 0 <= c[0] < rows and 0 <= c[1] < cols}

    p = dict(_EM_PARAMS)
    mrw, tw, mw = p["min_road_width"] / 2, p["typical_width"] / 2, p["max_width"] / 2
    dx = [1, 1, 1, 0, -1, -1, -1, 0]
    dy = [-1, 0, 1, 1, 1, 0, -1, -1]
    diag = _m.hypot(g.res_x, g.res_y)
    darr = [diag, g.res_x, diag, g.res_y, diag, g.res_x, diag, g.res_y]
    ss = p["search_dist"] / g.res_x
    if int(ss) % 2 == 0:
        ss += 1.0
    mid = int(ss / 2.0)
    offs = [(c - mid, r - mid) for r in range(int(ss)) for c in range(int(ss))]

    out = {}
    distance = {}
    seed_elev = {}
    mas = {}
    pqd = []
    pq = []
    for (row, col) in sorted(roads):
        maxval = dem[row, col]
        mp = (row, col)
        for (dc, dr) in offs:
            nb = (row + dr, col + dc)
            if 0 <= nb[0] < rows and 0 <= nb[1] < cols and nb not in roads:
                if dem[nb] > maxval and out.get(nb) != 1.0:
                    maxval = dem[nb]
                    mp = nb
        out[mp] = 1.0
        heapq.heappush(pqd, (0.0, mp[0], mp[1]))
        distance[mp] = 0.0
        seed_elev[mp] = maxval
        mas[mp] = 0.0
        heapq.heappush(pq, (0.0, mp[0], mp[1]))
    while pqd:
        d0, r, c = heapq.heappop(pqd)
        sz = seed_elev[(r, c)]
        for n in range(8):
            nb = (r + dy[n], c + dx[n])
            if 0 <= nb[0] < rows and 0 <= nb[1] < cols and distance.get(nb, -1.0) < 0.0:
                dist = d0 + darr[n]
                if dist < mw:
                    distance[nb] = dist
                    seed_elev[nb] = sz
                    es = _m.atan((sz - dem[nb]) / (d0 + darr[n]))
                    mas[nb] = max(abs(_m.degrees(es)), mas.get((r, c), 0.0))
                    heapq.heappush(pqd, (dist, nb[0], nb[1]))
    while pq:
        d0, r, c = heapq.heappop(pq)
        zc = dem[r, c]
        for n in range(8):
            nb = (r + dy[n], c + dx[n])
            if 0 <= nb[0] < rows and 0 <= nb[1] < cols and nb not in out:
                dist = distance.get(nb, -1.0)
                if dist >= 0.0:
                    mark = False
                    if dist <= mrw:
                        mark = True
                    elif dist <= mw:
                        sz = seed_elev[nb]
                        eh = sz - dem[nb]
                        es = _m.degrees(_m.atan(eh / dist))
                        if dist <= tw and zc - dem[nb] > -p["max_increment"] and eh <= p["max_height"]:
                            if dem[nb] <= zc:
                                mark = True
                            elif mas.get(nb, 0.0) < p["spillout_slope"]:
                                mark = True
                        elif mas.get(nb, 0.0) - abs(es) <= 1.0 and es >= 0.0:
                            mark = True
                    if mark:
                        out[nb] = 1.0
                        heapq.heappush(pq, (dist, nb[0], nb[1]))
    return dem, out


def _embankment_sql() -> str:
    """Mapping-mode oracle: literal VALUES of the serial transcription's
    embankment cells."""
    _, out = _embankment_serial()
    rows_out = sorted(cell for cell, v in out.items() if v == 1.0)
    vals = ", ".join(f"({r}, {c}, 1.0)" for r, c in rows_out)
    return (
        "SELECT CAST(row AS BIGINT) AS row, CAST(col AS BIGINT) AS col, "
        "CAST(value AS DOUBLE) AS value "
        f"FROM (VALUES {vals}) AS t(row, col, value)"
    )


def q_embankment_removal(spark, sf_dir):
    """EmbankmentMapping --remove_embankments mode (terrain_analysis/
    embankment_mapping.rs:858-960): the embankment-less DEM — mapped
    embankment cells replaced by the inverse-squared-distance weighted
    mean of edge donor cells within max_width/2, donors weighted by how
    many embankment cells they border (FRS duplicate insertions)."""
    from whitebox_tools_spark.operators.terrain import (
        embankment_mapping,
        remove_embankments_dem,
    )

    roads = spark.createDataFrame(
        [(i, [p[0] for p in pl], [p[1] for p in pl]) for i, pl in _EM_ROADS],
        "line_id long, xs array<double>, ys array<double>",
    )
    dem = _valley_dem_synthetic(spark)
    emb = embankment_mapping(dem, roads, STREAM_GRID, **_EM_PARAMS)
    out = remove_embankments_dem(
        dem, emb, STREAM_GRID, max_width=_EM_PARAMS["max_width"]
    )
    return out.select(
        "row", "col", (F.round("value", 6) + F.lit(0.0)).alias("value")
    )


def _embankment_removal_sql() -> str:
    """Remove-mode oracle: serial IDW transcription over the shared serial
    mapping — donors re-collected with multiplicity (one insertion per
    adjacent embankment cell, mirroring FixedRadiusSearch2D's duplicate
    inserts), squared-distance radius test and 1/d^2 weights in the
    reference's own accumulate order (sum_weights first, then the
    normalized sum — embankment_mapping.rs:905-926)."""
    g = STREAM_GRID
    dem, out = _embankment_serial()
    rows, cols = g.rows, g.cols
    mw = _EM_PARAMS["max_width"] / 2.0
    dx8 = [1, 1, 1, 0, -1, -1, -1, 0]
    dy8 = [-1, 0, 1, 1, 1, 0, -1, -1]
    emb = {cell for cell, v in out.items() if v == 1.0}
    donors = []  # (x, y, z) with multiplicity
    for (r, c) in sorted(emb):
        for i in range(8):
            nr, nc = r + dy8[i], c + dx8[i]
            if 0 <= nr < rows and 0 <= nc < cols and (nr, nc) not in emb:
                donors.append((g.x_center(nc), g.y_center(nr), dem[nr, nc]))
    lines = []
    for r in range(rows):
        y = g.y_center(r)
        for c in range(cols):
            if (r, c) in emb:
                x = g.x_center(c)
                near = [
                    (z, (x - px) * (x - px) + (y - py) * (y - py))
                    for (px, py, z) in donors
                    if (x - px) * (x - px) + (y - py) * (y - py) <= mw * mw
                ]
                sum_w = 0.0
                for (_, d2) in near:
                    if d2 > 0.0:
                        sum_w += 1.0 / d2
                if near:
                    z = 0.0
                    for (zj, d2) in near:
                        if d2 > 0.0:
                            z += zj * (1.0 / d2) / sum_w
                    lines.append((r, c, round(z, 6) + 0.0))
                # no donors in range -> nodata: cell dropped
            else:
                lines.append((r, c, round(float(dem[r, c]), 6) + 0.0))
    vals = ", ".join(f"({r}, {c}, {v!r})" for r, c, v in lines)
    return (
        "SELECT CAST(row AS BIGINT) AS row, CAST(col AS BIGINT) AS col, "
        "CAST(value AS DOUBLE) AS value "
        f"FROM (VALUES {vals}) AS t(row, col, value)"
    )


def q_lidar_rooftop_analysis(spark, sf_dir):
    """LidarRooftopAnalysis (lidar_analysis/lidar_rooftop_analysis.rs):
    roof facet segments inside building footprints — building PIP clip +
    RANSAC-plane segmentation composition. Fixture: a deterministic
    41x41 grid cloud (25-unit spacing, dense inside every footprint) at
    two roof planes 200 apart (> maxzdiff=150, so no facet may span
    both). Value-checked against a hybrid literal oracle
    (_lidar_rooftop_sql): PIP clip resolved by the repo's proven winding
    PIP oracle SQL over the literal cloud, segmentation by serial_lidar.
    segmentation_serial, per-(building, facet) aggregates computed
    serially (all inputs exact dyadic doubles, so sums are order-free);
    facet separation + partition invariance also pytest-pinned in
    tests/test_rooftop.py."""
    from whitebox_tools_spark.operators.lidar import lidar_rooftop_analysis

    cloud = _rooftop_cloud(spark)
    out = lidar_rooftop_analysis(
        cloud, PARTS, IDX,
        radius=60.0, norm_diff=5.0, maxzdiff=150.0,
        num_iter=20, num_samples=5, threshold=0.5, model_size=5, seed=3,
    )
    return out.orderBy("building_id", "segment_id")


def _rooftop_cloud(spark):
    """41x41 deterministic grid at two plane elevations 200 apart."""
    a, b, c = _TIN_PLANE
    x = (F.col("id") % 41).cast("double") * F.lit(25.0)
    y = (F.col("id") / 41).cast("long").cast("double") * F.lit(25.0)
    plane = F.lit(a) + F.lit(b) * F.col("x") + F.lit(c) * F.col("y")
    lower = (
        spark.range(0, 41 * 41)
        .select((F.col("id") + 1).alias("point_id"), x.alias("x"), y.alias("y"))
        .withColumn("z", plane)
    )
    upper = (
        spark.range(0, 41 * 41)
        .select((F.col("id") + 10001).alias("point_id"), x.alias("x"), y.alias("y"))
        .withColumn("z", plane + F.lit(200.0))
    )
    return lower.unionByName(upper)


# --- oracle queries for the remaining library-only tools (each previously
# pytest-only; surfacing them closes the correctness gate per tool) ---------


def q_clean_vector(spark, sf_dir):
    """CleanVector (data_tools/clean_vector.rs:120): drop null geometries
    and sub-minimal rings; the fixture injects one null geometry and one
    3-point (degenerate closed) ring that must both disappear."""
    from whitebox_tools_spark.operators.vector_ops import clean_vector

    bad = spark.createDataFrame(
        [
            (900, 0, False, None, None),
            (901, 0, False, [0.0, 1.0, 0.0], [0.0, 1.0, 0.0]),
        ],
        "poly_id long, part_idx int, is_hole boolean, xs array<double>, ys array<double>",
    )
    out = clean_vector(_parts_df_b(spark).unionByName(bad))
    return out.select(
        "poly_id",
        F.col("part_idx").cast("long").alias("part_idx"),
        F.size("xs").cast("long").alias("n_vertices"),
    )


def _parts_enum_sql(cols: str, fid: bool = False) -> str:
    rows = []
    fid_n = 0
    for pid, parts in sorted(PARTS, key=lambda t: t[0]):
        for k in range(len(parts)):
            fid_n += 1
            rows.append((fid_n, pid, k, int(bool(parts[k][2])), len(parts[k][0])))
    vals = ", ".join(f"({f}, {p}, {k}, {h}, {n})" for f, p, k, h, n in rows)
    return f"SELECT {cols} FROM (VALUES {vals}) AS t(fid, poly_id, part_idx, is_hole, n_vertices)"


def _clean_vector_sql() -> str:
    return _parts_enum_sql("poly_id, part_idx, n_vertices") + " WHERE n_vertices >= 4"


def q_multipart_to_singlepart(spark, sf_dir):
    """MultiPartToSinglePart (data_tools/multipart_to_singlepart.rs:139):
    each part becomes its own feature; fid = 1..n by (poly_id, part_idx)."""
    from whitebox_tools_spark.operators.vector_ops import multipart_to_singlepart

    out = multipart_to_singlepart(_parts_df_b(spark))
    return out.select(
        "fid", "poly_id",
        F.col("part_idx").cast("long").alias("part_idx"),
        F.size("xs").cast("long").alias("n_vertices"),
    )


def q_polygons_to_lines(spark, sf_dir):
    """PolygonsToLines (data_tools/polygons_to_lines.rs:121): every ring
    becomes a polyline feature, vertex order preserved."""
    from whitebox_tools_spark.operators.vector_ops import polygons_to_lines

    out = polygons_to_lines(_parts_df_b(spark))
    return out.select(
        "fid", F.col("src_id").alias("poly_id"),
        F.col("part_idx").cast("long").alias("part_idx"),
        F.size("xs").cast("long").alias("n_vertices"),
    )


def q_lines_to_polygons(spark, sf_dir):
    """LinesToPolygons (data_tools/lines_to_polygons.rs:127): close each
    polyline and emit as a polygon shell; the street fixture's open lines
    gain exactly one closing vertex."""
    from whitebox_tools_spark.operators.vector_ops import lines_to_polygons

    lines = spark.createDataFrame(
        _PROFILE_LINES, "fid long, xs array<double>, ys array<double>"
    )
    out = lines_to_polygons(lines)
    return out.select(
        "poly_id",
        F.size("xs").cast("long").alias("n_vertices"),
        (F.element_at("xs", 1) == F.element_at("xs", -1)).alias("closed_x"),
        (F.element_at("ys", 1) == F.element_at("ys", -1)).alias("closed_y"),
    )


def _lines_to_polygons_sql() -> str:
    rows = []
    for lid, xs, ys in _PROFILE_LINES:
        nv = len(xs) + (1 if (xs[0] != xs[-1] or ys[0] != ys[-1]) else 0)
        rows.append(f"({lid}, {nv}, TRUE, TRUE)")
    return (
        "SELECT poly_id, n_vertices, closed_x, closed_y FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(poly_id, n_vertices, closed_x, closed_y)"
    )


def q_remove_polygon_holes(spark, sf_dir):
    """RemovePolygonHoles (data_tools/remove_polygon_holes.rs:122)."""
    from whitebox_tools_spark.operators.vector_ops import remove_polygon_holes

    out = remove_polygon_holes(_parts_df_b(spark))
    return out.select(
        "poly_id",
        F.col("part_idx").cast("long").alias("part_idx"),
        F.size("xs").cast("long").alias("n_vertices"),
    )


def q_reinitialize_attribute_table(spark, sf_dir):
    """ReinitializeAttributeTable (data_tools/reinitialize_attribute_table.rs:
    108): attribute columns dropped, geometry + ids kept; n_cols certifies
    the drop happened."""
    from whitebox_tools_spark.operators.vector_ops import reinitialize_attribute_table

    src = (
        _parts_df_b(spark)
        .withColumn("name", F.concat(F.lit("feat-"), F.col("poly_id")))
        .withColumn("score", F.col("poly_id") * 1.5)
    )
    out = reinitialize_attribute_table(src, fid="poly_id")
    n_cols = len(out.columns)
    return out.select(
        "poly_id",
        F.col("part_idx").cast("long").alias("part_idx"),
        F.lit(n_cols).cast("long").alias("n_cols"),
    )


def q_new_raster_from_base(spark, sf_dir):
    """NewRasterFromBase (data_tools/new_raster.rs:145): dense constant
    raster with the base grid's shape."""
    from whitebox_tools_spark.operators.raster_math import new_raster_from_base

    return new_raster_from_base(spark, P2R_GRID, 7.5)


def q_convert_nodata_to_zero(spark, sf_dir):
    """ConvertNodataToZero (data_tools/convert_nodata_to_zero.rs:119): nodata
    (SQL NULL) cells become 0.0; fixture nulls every 13th part cell."""
    from whitebox_tools_spark.operators.raster_math import convert_nodata_to_zero

    p = _t(spark, sf_dir, "part")
    src = p.select(
        (F.col("p_partkey") % 200).alias("row"),
        (F.floor(F.col("p_partkey") / F.lit(200.0)).cast("long") % 200).alias("col"),
        F.when(F.col("p_partkey") % 13 == 0, None)
        .otherwise(F.col("p_retailprice"))
        .alias("value"),
    )
    return convert_nodata_to_zero(src)


_CSV_PTS = [
    (i, i * 2.5, ((i * i) % 97) / 3.0, f"L{i % 5}") for i in range(1, 41)
]


def q_csv_points_to_vector(spark, sf_dir):
    """CsvPointsToVector (data_tools/csv_points_to_vector.rs:149): CSV text
    -> point features with a distributed file-order sequence (single small
    file here, so the order is the file order)."""
    import tempfile

    from whitebox_tools_spark.sources import csv_points_to_vector

    d = tempfile.mkdtemp()
    with open(f"{d}/pts.csv", "w") as fh:
        fh.write("x,y,label\n")
        for _i, x, y, lab in _CSV_PTS:
            fh.write(f"{x!r},{y!r},{lab}\n")
    out = csv_points_to_vector(spark, f"{d}/pts.csv")
    return out.select(
        "point_id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        "label",
    )


def _csv_points_sql() -> str:
    vals = ", ".join(
        f"({i}, {x!r}, {y!r}, '{lab}')" for i, x, y, lab in _CSV_PTS
    )
    return (
        "SELECT point_id, ROUND(CAST(x AS DOUBLE), 6) AS x, "
        "ROUND(CAST(y AS DOUBLE), 6) AS y, label "
        f"FROM (VALUES {vals}) AS t(point_id, x, y, label)"
    )


def q_export_table_to_csv(spark, sf_dir):
    """ExportTableToCsv (data_tools/export_table_to_csv.rs:129): table ->
    CSV directory -> read back; identity vs the source table is the check."""
    import tempfile

    from whitebox_tools_spark.sources import export_table_to_csv

    d = tempfile.mkdtemp()
    src = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    export_table_to_csv(src, f"{d}/out")
    back = spark.read.csv(f"{d}/out", header=True, inferSchema=False)
    return back.select(F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")


def q_block_min_gridding(spark, sf_dir):
    """BlockMinimumGridding (gis_analysis/block_minimum.rs:147)."""
    pts = _cust_points(spark, sf_dir)
    return block_gridding(pts, P2R_GRID, value="z", agg="min")


def _block_min_sql() -> str:
    x, y = synth.point_sql("c_custkey")
    g = P2R_GRID
    return f"""
WITH pts AS (SELECT c_custkey AS point_id, {x} AS x, {y} AS y, c_acctbal AS z FROM customer)
SELECT {g.row_sql('y')} AS row, {g.col_sql('x')} AS col, min(z) AS value
FROM pts
WHERE {g.in_grid_sql(g.row_sql('y'), g.col_sql('x'))}
GROUP BY 1, 2
"""


def q_las_to_ascii(spark, sf_dir):
    """LasToAscii (lidar_analysis/las_to_ascii.rs): LAS file -> delimited
    text -> LAS again (AsciiToLas) -> distributed read; identity vs the
    source cloud through both quantizer passes."""
    import tempfile

    from whitebox_tools_spark.lidar_io import ascii_to_las, las_to_ascii, read_las, write_las

    d = tempfile.mkdtemp()
    write_las(_zlidar_cloud(spark, sf_dir), f"{d}/a.las")
    las_to_ascii(spark, f"{d}/a.las", f"{d}/a.csv")
    ascii_to_las(spark, f"{d}/a.csv", f"{d}/b.las")
    out = read_las(spark, f"{d}/b.las")
    return out.select(
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"),
        "classification",
    )


def q_construct_vector_tin_points(spark, sf_dir):
    """ConstructVectorTIN (gis_analysis/construct_vector_tin.rs:170) over a
    9x9 integer lattice: ANY full triangulation of the point set has exactly
    2h - b - 2 = 128 triangles (h=81 points, b=32 on the hull) and its
    triangle areas sum to the hull area 6400 — implementation-invariant
    despite the lattice's cocircular quads (the tin_gridding query pins the
    interpolated geometry)."""
    from whitebox_tools_spark.operators.tin import construct_tin

    pts = spark.range(1, 82).select(
        F.col("id").alias("point_id"),
        (((F.col("id") - 1) % 9) * 10).cast("double").alias("x"),
        (F.floor((F.col("id") - 1) / 9) * 10).cast("double").alias("y"),
        (F.col("id") % 7).cast("double").alias("z"),
    )
    tri = construct_tin(pts)
    area = (
        F.abs(
            (F.col("bx") - F.col("ax")) * (F.col("cy") - F.col("ay"))
            - (F.col("cx") - F.col("ax")) * (F.col("by") - F.col("ay"))
        )
        / 2.0
    )
    return tri.agg(
        F.count("*").cast("long").alias("n_triangles"),
        F.round(F.sum(area), 6).alias("total_area"),
    )


def _construct_tin_sql() -> str:
    return (
        "SELECT CAST(128 AS BIGINT) AS n_triangles, "
        "CAST(6400.0 AS DOUBLE) AS total_area"
    )


def q_shapefile_round_trip(spark, sf_dir):
    """ESRI Shapefile codec (whitebox-vector/src/shapefile/geometry.rs
    ShapeType Polygon + dBase III attributes — the reference's native
    vector format): polygon layer + attributes -> .shp/.shx/.dbf -> the
    distributed binaryFile reader + .dbf attribute join. Fingerprint is
    ring-orientation invariant (the writer normalizes shells CW / holes CCW
    per the public spec; vertex sums and counts survive reversal)."""
    import tempfile

    import pandas as pd

    from whitebox_tools_spark.shapefile_io import (
        read_shapefile,
        read_shapefile_attrs,
        write_shapefile,
    )

    d = tempfile.mkdtemp()
    feats = []
    names, scores = [], []
    for pid, parts in sorted(PARTS, key=lambda t: t[0]):
        feats.append(
            [([float(v) for v in xs], [float(v) for v in ys], bool(h))
             for xs, ys, h in parts]
        )
        names.append(f"feat-{pid}")
        scores.append(pid * 1.5)
    attrs = pd.DataFrame({"name": names, "score": scores})
    write_shapefile(feats, f"{d}/layer", attrs=attrs)
    shapes = read_shapefile(spark, f"{d}/layer.shp", file_offset_ids=False)
    table = read_shapefile_attrs(spark, f"{d}/layer.dbf")
    out = shapes.join(table, "fid")
    return out.select(
        "fid",
        F.col("part_idx").cast("long").alias("part_idx"),
        "is_hole",
        F.size("xs").cast("long").alias("n_vertices"),
        # exact scaled-integer vertex sums: order-invariant, so the writer's
        # ring-orientation normalization cannot perturb the fingerprint
        F.aggregate(
            "xs", F.lit(0).cast("long"),
            lambda a, v: a + F.floor(v * 1e6 + F.lit(0.5)).cast("long"),
        ).alias("sum_x6"),
        F.aggregate(
            "ys", F.lit(0).cast("long"),
            lambda a, v: a + F.floor(v * 1e6 + F.lit(0.5)).cast("long"),
        ).alias("sum_y6"),
        "name",
        F.round("score", 6).alias("score"),
    )


def _shapefile_sql() -> str:
    import math as _m

    rows = []
    for rec, (pid, parts) in enumerate(sorted(PARTS, key=lambda t: t[0]), start=1):
        for k, (xs, ys, h) in enumerate(parts):
            sx = sum(_m.floor(float(v) * 1e6 + 0.5) for v in xs)
            sy = sum(_m.floor(float(v) * 1e6 + 0.5) for v in ys)
            rows.append(
                f"({rec}, {k}, {str(bool(h)).upper()}, {len(xs)}, {sx}, "
                f"{sy}, 'feat-{pid}', {pid * 1.5!r})"
            )
    return (
        "SELECT fid, part_idx, is_hole, n_vertices, "
        "CAST(sum_x6 AS BIGINT) AS sum_x6, CAST(sum_y6 AS BIGINT) AS sum_y6, "
        "name, ROUND(CAST(score AS DOUBLE), 6) AS score FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(fid, part_idx, is_hole, n_vertices, sum_x6, sum_y6, name, score)"
    )


def q_las_rgb_gps_round_trip(spark, sf_dir):
    """LAS 1.2 point formats 1-3 (whitebox-lidar/src/las.rs point records
    with GPS time and RGB): cloud -> format-3 LAS file -> distributed
    binaryFile read; identity through the 0.001 quantizer (gps_time uses an
    exact-binary 2^-4 step so the f64 field round-trips bit-exactly)."""
    import tempfile

    from whitebox_tools_spark.lidar_io import read_las, write_las

    d = tempfile.mkdtemp()
    cloud = (
        _zlidar_cloud(spark, sf_dir)
        .withColumn("gps_time", F.col("point_id") * 0.0625 + 300000.0)
        .withColumn("red", (F.col("point_id") * 97 % 65536).cast("int"))
        .withColumn("green", (F.col("point_id") * 131 % 65536).cast("int"))
        .withColumn("blue", (F.col("point_id") * 181 % 65536).cast("int"))
    )
    write_las(cloud, f"{d}/a.las")
    out = read_las(spark, f"{d}/a.las")
    return out.select(
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"),
        "intensity", "return_number", "number_of_returns", "classification",
        F.round("gps_time", 6).alias("gps_time"),
        "red", "green", "blue",
    )


def _las_rgb_gps_sql() -> str:
    return f"""
SELECT round(x, 6) AS x, round(y, 6) AS y, round(z, 6) AS z,
       intensity, return_number, number_of_returns, classification,
       round(point_id * 0.0625 + 300000.0, 6) AS gps_time,
       CAST(point_id * 97 % 65536 AS INT) AS red,
       CAST(point_id * 131 % 65536 AS INT) AS green,
       CAST(point_id * 181 % 65536 AS INT) AS blue
FROM ({_ZLIDAR_CLOUD_SQL_BODY} FROM ({_order_cloud_cte()}) oc)
"""


HACH_GRID = GridSpec(west=0.0, north=208.0, res_x=8.0, res_y=8.0, rows=26, cols=26)
_HACH_PARAMS = dict(
    interval=8.0, base=0.0, filter_size=9, tolerance=10.0, separation=2.0,
    distmin=0.5, distmax=2.0, discretization=0.5, turnmax=45.0, slopemin=0.5,
    depth=16,
)


def _hachure_dem_rows():
    """Deterministic smooth hill DEM (gaussian peak + tilted plane + integer
    ripple) — sf-independent; closed contours around the peak so both
    contour-tracing loops and both flowline directions are exercised.
    Computed once in python so the engine DataFrame and the serial oracle
    share bit-identical doubles."""
    import math as _m

    out = []
    for r in range(26):
        for c in range(26):
            x = 4.0 + 8.0 * c
            y = 208.0 - 4.0 - 8.0 * r
            dx = x - 104.0
            dy = y - 104.0
            z = (
                60.0 * _m.exp(-(dx * dx + dy * dy) / 8000.0)
                + 0.02 * y
                + 0.013 * x
                + ((r * 31 + c * 17) % 7) * 0.05
            )
            out.append((r, c, z))
    return out


def q_topographic_hachures(spark, sf_dir):
    """TopographicHachures (terrain_analysis/topographic_hachures.rs:274,
    Samsonov 2014): downslope/upslope flowlines seeded along contours, per-
    hachure HEIGHT/SLOPE/ASPECT + 8 illumination cosines. Engine: per-level
    two-stage applyInPandas decomposition with a lag join shipping each
    level's downslope flowlines to its successor (hachures.py). Fingerprint
    output: per-hachure attributes + vertex count + endpoints + polyline
    length (bit-exact vs the serial transcription; full vertex arrays pinned
    in tests/test_hachures.py). Junction ties in the contour walk are broken
    by segment creation order in BOTH engine and oracle (the reference's
    kd-tree `within` traversal order is unspecified)."""
    from whitebox_tools_spark.operators.hachures import hachures

    dem = spark.createDataFrame(
        _hachure_dem_rows(), "row long, col long, value double"
    )
    out = hachures(
        dem,
        HACH_GRID,
        interval=_HACH_PARAMS["interval"],
        base=_HACH_PARAMS["base"],
        filter_size=_HACH_PARAMS["filter_size"],
        tolerance=_HACH_PARAMS["tolerance"],
        separation=_HACH_PARAMS["separation"],
        distmin=_HACH_PARAMS["distmin"],
        distmax=_HACH_PARAMS["distmax"],
        discretization=_HACH_PARAMS["discretization"],
        turnmax=_HACH_PARAMS["turnmax"],
        slopemin=_HACH_PARAMS["slopemin"],
        depth=_HACH_PARAMS["depth"],
    )
    length = F.expr(
        "aggregate(sequence(2, size(xs)), cast(0.0 as double), (acc, i) -> "
        "acc + sqrt((xs[i-1]-xs[i-2])*(xs[i-1]-xs[i-2]) + "
        "(ys[i-1]-ys[i-2])*(ys[i-1]-ys[i-2])))"
    )
    return out.select(
        "hid",
        F.round("height", 6).alias("height"),
        F.round("slope", 6).alias("slope"),
        F.round("aspect", 6).alias("aspect"),
        F.round("n", 6).alias("n"),
        F.round("ne", 6).alias("ne"),
        F.round("e", 6).alias("e"),
        F.round("se", 6).alias("se"),
        F.round("s", 6).alias("s"),
        F.round("sw", 6).alias("sw"),
        F.round("w", 6).alias("w"),
        F.round("nw", 6).alias("nw"),
        F.size("xs").cast("long").alias("nv"),
        F.round(F.element_at("xs", 1), 6).alias("x_first"),
        F.round(F.element_at("ys", 1), 6).alias("y_first"),
        F.round(F.element_at("xs", -1), 6).alias("x_last"),
        F.round(F.element_at("ys", -1), 6).alias("y_last"),
        F.round(length, 6).alias("length"),
    )


def _hachures_serial():
    """Independent serial transcription of topographic_hachures.rs run()
    (274-1460) + helpers (1536-1838): ONE global row-major sweep exactly as
    the Rust executes it (the engine path is the per-level distributed
    decomposition — different structure, same semantics). Returns
    (hid, height, slope, aspect, n, ne, e, se, s, sw, w, nw, points)."""
    import math as _m

    g = HACH_GRID
    p = _HACH_PARAMS
    rows, cols = g.rows, g.cols
    nodata = -32768.0
    dem = [[nodata] * cols for _ in range(rows)]
    for r, c, v in _hachure_dem_rows():
        dem[r][c] = v
    base, interval = p["base"], p["interval"]
    filter_size = p["filter_size"]
    if filter_size % 2 == 0:
        filter_size += 1
    filter_radius = filter_size // 2
    tol = _m.cos(_m.radians(p["tolerance"]))
    turnmax = _m.cos(_m.radians(p["turnmax"]))
    slopemin = _m.tan(_m.radians(p["slopemin"]))
    separation, distmin, distmax = p["separation"], p["distmin"], p["distmax"]
    discretization, depth_max = p["discretization"], p["depth"]
    res_x, res_y = g.res_x, g.res_y
    res_xy = 0.5 * (res_x + res_y)
    half_x, half_y = res_x / 2.0, res_y / 2.0
    west, north = g.west, g.north

    def getv(r, c):
        if 0 <= r < rows and 0 <= c < cols:
            return dem[r][c]
        return nodata

    band = [
        [
            nodata if dem[r][c] == nodata else _m.floor((dem[r][c] - base) / interval)
            for c in range(cols)
        ]
        for r in range(rows)
    ]

    def getb(r, c):
        if 0 <= r < rows and 0 <= c < cols:
            return band[r][c]
        return nodata

    # --- RasterCoverage (rs:1536-1671)
    a00 = [[0.0] * cols for _ in range(rows)]
    a10 = [[0.0] * cols for _ in range(rows)]
    a01 = [[0.0] * cols for _ in range(rows)]
    a11 = [[0.0] * cols for _ in range(rows)]
    for r in range(rows):
        for c in range(cols):
            z00 = getv(r + 1, c)
            z10 = getv(r + 1, c + 1)
            z01 = getv(r, c)
            z11 = getv(r, c + 1)
            a00[r][c] = z00
            a10[r][c] = z10 - z00
            a01[r][c] = z01 - z00
            a11[r][c] = z00 + z11 - z01 - z10

    def cell_coords(x, y):
        col = _m.floor((x - west - 0.5 * res_x) / res_x)
        row = _m.floor((north - y - 0.5 * res_y) / res_y)
        if row < 0 or col < 0 or row >= rows - 1 or col >= cols - 1:
            return None
        xcol = west + res_x / 2.0 + col * res_x
        yrow = north - res_y / 2.0 - row * res_y
        return row, col, (x - xcol) / res_x, 1.0 - (yrow - y) / res_y

    def cov_value(x, y):
        cc = cell_coords(x, y)
        if cc is None:
            return nodata
        r, c, xc, yc = cc
        return a00[r][c] + a10[r][c] * xc + a01[r][c] * yc + a11[r][c] * xc * yc

    def cov_gradient(x, y):
        cc = cell_coords(x, y)
        if cc is None:  # unchecked (panic) in the Rust; clamp, shared rule
            col = _m.floor((x - west - 0.5 * res_x) / res_x)
            row = _m.floor((north - y - 0.5 * res_y) / res_y)
            r = min(max(row, 0), rows - 2)
            c = min(max(col, 0), cols - 2)
            xc = yc = 0.0
        else:
            r, c, xc, yc = cc
        return (
            (a10[r][c] + a11[r][c] * yc) / res_x,
            (a01[r][c] + a11[r][c] * xc) / res_y,
        )

    def cov_slope(x, y):
        gx, gy = cov_gradient(x, y)
        return _m.sqrt(gx * gx + gy * gy)

    # --- segment creation (rs:640-712), row-major, n in 0..4, level ascending
    dxs = [0, 1, 0, -1]
    dys = [-1, 0, 1, 0]
    e1x = [-half_x, half_x, half_x, -half_x]
    e1y = [half_y, half_y, -half_y, -half_y]
    e3x = [half_x, half_x, -half_x, -half_x]
    e3y = [half_y, -half_y, -half_y, half_y]
    segs = []
    tree = {}

    def addnode(pt, node):
        tree.setdefault((round(pt[0], 6), round(pt[1], 6)), []).append(node)

    for r in range(rows):
        for c in range(cols):
            z = getb(r, c)
            if z == nodata:
                continue
            for n in range(4):
                zn = getb(r + dys[n], c + dxs[n])
                if z > zn and zn != nodata:
                    x = west + half_x + c * res_x
                    y = north - half_y - r * res_y
                    for cv in range(int(zn) + 1, int(z) + 1):
                        p1 = (x + e1x[n], y + e1y[n])
                        addnode(p1, 2 * len(segs))
                        p2 = (x + e3x[n], y + e3y[n])
                        addnode(p2, 2 * len(segs) + 1)
                        segs.append((p1, p2, float(cv)))

    live = [True] * len(segs)

    def node_pt(node):
        s = segs[node // 2]
        return s[0] if node % 2 == 0 else s[1]

    def same_level_live(pt, z, exclude):
        for node in tree.get((round(pt[0], 6), round(pt[1], 6)), ()):
            if node != exclude and segs[node // 2][2] == z and live[node // 2]:
                return True
        return False

    def heading(prev, cur, nxt):
        ax, ay = cur[0] - prev[0], cur[1] - prev[1]
        bx, by = nxt[0] - cur[0], nxt[1] - cur[1]
        mag = _m.sqrt(ax * ax + ay * ay) * _m.sqrt(bx * bx + by * by)
        # Rust f64 0/0 = NaN; NaN fails both clamp branches and acos(NaN)=NaN
        ratio = (ax * bx + ay * by) / mag if mag != 0.0 else _m.nan
        if ratio > 1.0:
            ratio = 1.0
        if ratio < -1.0:
            ratio = -1.0
        left = (nxt[0] - prev[0]) * (cur[1] - prev[1]) - (cur[0] - prev[0]) * (
            nxt[1] - prev[1]
        )
        return _m.acos(ratio) if left >= 0.0 else -_m.acos(ratio)

    def walk(start_node, z):
        current = start_node
        points = []
        while True:
            seg_i = current // 2
            points.append(node_pt(current))
            if live[seg_i]:
                live[seg_i] = False
                s = segs[seg_i]
                points.append(((s[0][0] + s[1][0]) / 2.0, (s[0][1] + s[1][1]) / 2.0))
                current = current + 1 if current % 2 == 0 else current - 1
            else:
                pt = node_pt(current)
                connected = [
                    node
                    for node in tree.get((round(pt[0], 6), round(pt[1], 6)), ())
                    if segs[node // 2][2] == z and live[node // 2]
                ]
                if not connected:
                    return points
                if len(connected) == 1:
                    current = connected[0]
                    continue
                s = segs[seg_i]
                if current % 2 == 0:
                    p1h, p2h = s[1], s[0]
                else:
                    p1h, p2h = s[0], s[1]
                max_h, best = 0.0, None
                for node in connected:
                    so = segs[node // 2]
                    p3 = so[1] if node % 2 == 0 else so[0]
                    h = abs(heading(p1h, p2h, p3))
                    if h > max_h:
                        max_h, best = h, node
                if best is None:
                    return points
                current = best

    def deflection(p1, p2, p3):
        ax, ay = p2[0] - p1[0], p2[1] - p1[1]
        bx, by = p3[0] - p2[0], p3[1] - p2[1]
        mag = _m.sqrt(ax * ax + ay * ay) * _m.sqrt(bx * bx + by * by)
        return abs((ax * bx + ay * by) / mag) if mag != 0.0 else _m.nan

    def simplify(points):
        for a in range(len(points) - 2, 0, -1):
            if deflection(points[a - 1], points[a], points[a + 1]) > tol:
                del points[a]
        return points

    contours = []
    # loop 1 (rs:766-976): open chains from free endpoints
    for i in range(len(segs)):
        if not live[i]:
            continue
        z = segs[i][2]
        start = None
        if not same_level_live(segs[i][0], z, 2 * i):
            start = 2 * i
        elif not same_level_live(segs[i][1], z, 2 * i + 1):
            start = 2 * i + 1
        if start is None:
            continue
        points = walk(start, z)
        if len(points) > 1:
            npts = len(points)
            if npts > filter_size and filter_size > 0:
                for sweep in (0, 1):
                    order = range(npts) if sweep == 0 else range(npts - 1, -1, -1)
                    for a in order:
                        sx = sy = 0.0
                        for q in range(-filter_radius, filter_radius + 1):
                            pid = a + q
                            if pid < 0:
                                pid = 0
                            if pid >= npts:
                                pid = npts - 1
                            sx += points[pid][0]
                            sy += points[pid][1]
                        points[a] = (sx / filter_size, sy / filter_size)
            if tol is not None and p["tolerance"] > 0:
                points = simplify(points)
            contours.append((points, base + z * interval, False))
    # loop 2 (rs:978-1182): closed loops
    for i in range(len(segs)):
        if not live[i]:
            continue
        z = segs[i][2]
        points = walk(2 * i, z)
        npts = len(points)
        if npts > 1:
            if npts > filter_size and filter_size > 0:
                for sweep in (0, 1):
                    order = range(npts) if sweep == 0 else range(npts - 1, -1, -1)
                    for a in order:
                        sx = sy = 0.0
                        for q in range(-filter_radius, filter_radius + 1):
                            pid = a + q
                            if pid < 0:
                                pid += npts - 1
                            if pid >= npts:
                                pid -= npts - 1
                            sx += points[pid][0]
                            sy += points[pid][1]
                        points[a] = (sx / filter_size, sy / filter_size)
                    points[npts - 1] = points[0]
            if p["tolerance"] > 0:
                points = simplify(points)
            xs = [q[0] for q in points]
            ys = [q[1] for q in points]
            if (max(xs) - min(xs)) > res_x or (max(ys) - min(ys)) > res_y:
                contours.append((points, base + z * interval, True))

    contours.sort(key=lambda cc: cc[1], reverse=True)  # stable, like Rust

    # --- hachure sweep helpers (rs:1675-1838)
    def dist(a, b):
        dx = a[0] - b[0]
        dy = a[1] - b[1]
        return _m.sqrt(dx * dx + dy * dy)

    def path_turn(p1, p2, p3):
        ax, ay = p2[0] - p1[0], p2[1] - p1[1]
        bx, by = p3[0] - p2[0], p3[1] - p2[1]
        mag = _m.sqrt(ax * ax + ay * ay) * _m.sqrt(bx * bx + by * by)
        return (ax * bx + ay * by) / mag if mag != 0.0 else _m.nan

    def get_flowline(pt, discr, zlim, down):
        points = []
        sign = 1.0 if down else -1.0
        p1 = pt
        zprev = cov_value(p1[0], p1[1])
        if zprev == zlim or zprev == nodata:
            return points
        points.append(p1)
        while True:
            slope = cov_slope(p1[0], p1[1])
            if slope < slopemin:
                break
            gx, gy = cov_gradient(p1[0], p1[1])
            p2 = (p1[0] - sign * discr * gx / slope, p1[1] - sign * discr * gy / slope)
            zcur = cov_value(p2[0], p2[1])
            if zcur == nodata:
                break
            g2x, g2y = cov_gradient(p2[0], p2[1])
            gx = 0.5 * (gx + g2x)
            gy = 0.5 * (gy + g2y)
            gl = _m.sqrt(gx * gx + gy * gy)
            p2 = (p1[0] - sign * discr * gx / gl, p1[1] - sign * discr * gy / gl)
            zcur = cov_value(p2[0], p2[1])
            if (down and zcur < zlim) or (not down and zcur > zlim):
                t = (zprev - zlim) / (zprev - zcur)
                points.append(
                    ((1.0 - t) * p1[0] + t * p2[0], (1.0 - t) * p1[1] + t * p2[1])
                )
                break
            elif (down and zcur < zprev) or (not down and zcur > zprev):
                points.append(p2)
                p1 = p2
                zprev = zcur
            else:
                break
            nn = len(points)
            if nn >= 3 and path_turn(points[nn - 3], points[nn - 2], points[nn - 1]) < turnmax:
                points.pop()
                break
        return points

    def point_side(p1, p2, p3):
        return (p3[0] - p1[0]) * (p2[1] - p1[1]) < (p3[1] - p1[1]) * (p2[0] - p1[0])

    def is_intersection(p1, p2, p3, p4):
        return (point_side(p1, p2, p3) != point_side(p1, p2, p4)) and (
            point_side(p3, p4, p1) != point_side(p3, p4, p2)
        )

    def intersection_idx(newline, lines, d):
        imin = len(newline)
        d1 = dist(newline[0], newline[-1])
        c1 = (
            (newline[0][0] + newline[-1][0]) / 2.0,
            (newline[0][1] + newline[-1][1]) / 2.0,
        )
        for line in reversed(lines):
            d2 = dist(line[0], line[-1])
            c2 = ((line[0][0] + line[-1][0]) / 2.0, (line[0][1] + line[-1][1]) / 2.0)
            if dist(c1, c2) < (d1 + d2) / 2.0:
                for i in range(1, len(newline)):
                    for j in range(1, len(line)):
                        if dist(newline[i], line[j]) < d:
                            if i < imin:
                                imin = i
                            if imin == 1:
                                return imin
                        if is_intersection(
                            newline[i - 1], newline[i], line[j - 1], line[j]
                        ):
                            if i < imin:
                                imin = i
                            if imin == 1:
                                return imin
        return imin

    def insert_flowlines(flowlines, n1, n2, k1, k2, depth, dmin, dmax, discr, zlim, down):
        if depth == 0:
            return
        nn = min(len(flowlines[n1]) - k1, len(flowlines[n2]) - k2)
        for i in range(nn):
            p1 = flowlines[n1][i + k1]
            p2 = flowlines[n2][i + k2]
            if dist(p1, p2) >= dmax:
                p3 = ((p1[0] + p2[0]) / 2.0, (p1[1] + p2[1]) / 2.0)
                fl = get_flowline(p3, discr, zlim, down)
                if len(fl) > 1:
                    idx = intersection_idx(fl, flowlines, dmin)
                    fl = fl[:idx]
                    if len(fl) > 1:
                        flowlines.append(fl)
                        nlast = len(flowlines) - 1
                        insert_flowlines(flowlines, n1, nlast, i + k1, 0,
                                         depth - 1, dmin, dmax, discr, zlim, down)
                        insert_flowlines(flowlines, n2, nlast, i + k2, 0,
                                         depth - 1, dmin, dmax, discr, zlim, down)
                return

    # --- the main sweep (rs:1190-1431)
    out = []
    hid = 1
    ncont = len(contours)
    flowlines_prev = []
    flowlines = []
    starts = set()
    seed_starts = {0}
    level_seeds = []
    counter = 0
    sqrt_05 = _m.sqrt(0.5)
    new_step = separation * res_xy
    new_distmin = distmin * new_step
    new_distmax = distmax * new_step
    discr = discretization * res_xy
    zmin = zmax = 0.0
    for points, val, _closed in contours:
        npts = len(points)
        perim = 0.0
        accdist = [0.0] * npts
        for i in range(1, npts):
            perim += dist(points[i - 1], points[i])
            accdist[i] = perim
        step = separation * res_xy
        num = perim / step
        to_up = (_m.ceil(num) - num) < (num - _m.floor(num))
        denom = _m.ceil(num) if to_up else _m.floor(num)
        new_step = perim / denom if denom != 0 else _m.inf
        num_seeds = int(perim / new_step) if new_step > 0 else 0
        discr = discretization * res_xy
        zmin = val - interval
        zmax = val + interval
        new_distmin = distmin * new_step
        new_distmax = distmax * new_step
        seeds = [points[0]]
        j = 0
        for i in range(1, num_seeds):
            d = i * new_step
            while d > accdist[j]:
                j += 1
            t = (d - accdist[j - 1]) / (accdist[j] - accdist[j - 1])
            seed = (
                (1.0 - t) * points[j - 1][0] + t * points[j][0],
                (1.0 - t) * points[j - 1][1] + t * points[j][1],
            )
            seeds.append(seed)
            level_seeds.append(seed)
        seeds.append(points[npts - 1])
        level_seeds.append(points[npts - 1])
        starts.add(len(flowlines))
        seed_starts.add(len(level_seeds))
        for seed in seeds:
            fl = get_flowline(seed, discr, zmin, True)
            if len(fl) > 1:
                idx = intersection_idx(fl, flowlines, new_distmin)
                fl = fl[:idx]
                if len(fl) > 1:
                    flowlines.append(fl)
        finished_level = (
            counter == ncont - 1 or contours[counter + 1][1] != val
        )
        if finished_level:
            nfl = len(flowlines)
            if nfl > 1:
                for i in range(nfl - 1):
                    if (i + 1) not in starts:
                        insert_flowlines(flowlines, i, i + 1, 0, 0, depth_max,
                                         new_distmin, new_distmax, discr, zmin, True)
            flowlines_up = []
            idxs = []
            for i, seed in enumerate(level_seeds):
                fl = get_flowline(seed, discr, zmax, False)
                if len(fl) > 1:
                    idx1 = intersection_idx(fl, flowlines_prev, step)
                    idx2 = intersection_idx(fl, flowlines_up, new_distmin)
                    fl = fl[: min(idx1, idx2)]
                    if len(fl) > 1:
                        flowlines_up.append(fl)
                        idxs.append(i)
            nup = len(flowlines_up)
            if nup > 1:
                for i in range(nup - 1):
                    if idxs[i + 1] not in seed_starts and idxs[i + 1] - idxs[i] == 1:
                        insert_flowlines(flowlines_up, i, i + 1, 0, 0, depth_max,
                                         new_distmin, new_distmax, discr, zmax, False)
            level_seeds = []
            flowlines_prev = [list(fl) for fl in flowlines]
            flowlines = flowlines + flowlines_up
            for fl in flowlines:
                dxsum = dysum = 0.0
                for (x, y) in fl:
                    gx, gy = cov_gradient(x, y)
                    dxsum += gx
                    dysum += gy
                dx = -dxsum / len(fl)
                dy = -dysum / len(fl)
                grad_len = _m.sqrt(dx * dx + dy * dy)
                slope = _m.degrees(_m.atan(grad_len))
                math_aspect = _m.degrees(_m.atan2(dy, dx))
                aspect = (
                    90.0 - math_aspect if math_aspect < 90.0 else 450.0 - math_aspect
                )
                dx1 = dx / grad_len
                dy1 = dy / grad_len
                out.append(
                    (
                        hid, val,
                        slope, aspect,
                        dy1,
                        sqrt_05 * dx1 + sqrt_05 * dy1,
                        dx1,
                        sqrt_05 * dx1 - sqrt_05 * dy1,
                        -dy1,
                        -sqrt_05 * dx1 - sqrt_05 * dy1,
                        -dx1,
                        -sqrt_05 * dx1 + sqrt_05 * dy1,
                        list(fl),
                    )
                )
                hid += 1
            flowlines = []
            starts = set()
            seed_starts = {0}
        counter += 1
    return out


_HACH_EXPECTED = None


def _hachures_expected():
    global _HACH_EXPECTED
    if _HACH_EXPECTED is None:
        _HACH_EXPECTED = _hachures_serial()
    return _HACH_EXPECTED


def _hachures_sql() -> str:
    """Literal fingerprint rows from the independent serial transcription
    (the fixture is sf-independent, like the embankment/TSP oracles)."""
    import math as _m

    def lit(v):
        if isinstance(v, float) and _m.isnan(v):
            return "CAST('nan' AS DOUBLE)"
        return repr(float(v))

    rows = []
    for rec in _hachures_expected():
        hid, val = rec[0], rec[1]
        attrs = rec[2:12]
        pts = rec[12]
        length = 0.0
        for i in range(1, len(pts)):
            dx = pts[i][0] - pts[i - 1][0]
            dy = pts[i][1] - pts[i - 1][1]
            length = length + _m.sqrt(dx * dx + dy * dy)
        vals = (
            [str(hid), lit(val)]
            + [lit(a) for a in attrs]
            + [str(len(pts)), lit(pts[0][0]), lit(pts[0][1]),
               lit(pts[-1][0]), lit(pts[-1][1]), lit(length)]
        )
        rows.append("(" + ", ".join(vals) + ")")
    values = ",\n".join(rows)
    return f"""
SELECT hid, ROUND(CAST(height AS DOUBLE), 6) AS height,
       ROUND(CAST(slope AS DOUBLE), 6) AS slope,
       ROUND(CAST(aspect AS DOUBLE), 6) AS aspect,
       ROUND(CAST(n AS DOUBLE), 6) AS n, ROUND(CAST(ne AS DOUBLE), 6) AS ne,
       ROUND(CAST(e AS DOUBLE), 6) AS e, ROUND(CAST(se AS DOUBLE), 6) AS se,
       ROUND(CAST(s AS DOUBLE), 6) AS s, ROUND(CAST(sw AS DOUBLE), 6) AS sw,
       ROUND(CAST(w AS DOUBLE), 6) AS w, ROUND(CAST(nw AS DOUBLE), 6) AS nw,
       nv, ROUND(CAST(x_first AS DOUBLE), 6) AS x_first,
       ROUND(CAST(y_first AS DOUBLE), 6) AS y_first,
       ROUND(CAST(x_last AS DOUBLE), 6) AS x_last,
       ROUND(CAST(y_last AS DOUBLE), 6) AS y_last,
       ROUND(CAST(length AS DOUBLE), 6) AS length
FROM (VALUES
{values}
) AS t(hid, height, slope, aspect, n, ne, e, se, s, sw, w, nw, nv,
       x_first, y_first, x_last, y_last, length)
"""








