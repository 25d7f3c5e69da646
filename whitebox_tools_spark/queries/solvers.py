"""Query bodies: SF-independent solver fixtures, hydro/terrain/cost families, ML, training-data suite."""

# Shared flat namespace: each queries/ module layers on its predecessor so
# the package behaves exactly like the original single registry module
# (underscore helpers included — `import *` would drop them).
from whitebox_tools_spark.queries import raster_stats as _prev

globals().update(
    {k: v for k, v in vars(_prev).items() if not k.startswith("__")}
)
del _prev

# --- SF-independent fixtures for the literal serial-transcription oracles ---
# (serial_oracles.py computes the SAME grids term-for-term in pure python, so
# the driver can value-check order-dependent solvers at ANY scale factor; the
# hachures/embankment queries pioneered this pattern.)


def _fixed_dense20(spark) -> DataFrame:
    """Fixed dense 20x100 hash-noise DEM (ids 1..2000) == serial_oracles.
    dense20_vals(); integer-derived, bit-identical in python and Spark."""
    return spark.range(1, 2001).select(
        (F.col("id") % 20).alias("row"),
        F.floor(F.col("id") / F.lit(20.0)).cast("long").alias("col"),
        (((F.col("id") * 48271) % 100000).cast("double") / 100.0).alias("value"),
    )


def _fixed_noise(spark) -> DataFrame:
    """Fixed 200-row hash-noise DEM (ids 1..2000) == serial_oracles.
    noise_vals()."""
    return spark.range(1, 2001).select(
        (F.col("id") % 200).alias("row"),
        (F.floor(F.col("id") / F.lit(200.0)).cast("long") % 200).alias("col"),
        (((F.col("id") * 48271) % 100000).cast("double") / 100.0).alias("value"),
    )


def _fixed_valley(spark) -> DataFrame:
    """Fixed 20x25 fishbone-valley DEM (ids 1..500) == serial_oracles.
    valley_vals(); same formula as _valley_dem but SF-independent."""
    pk = F.col("id") - 1
    row = pk % 20
    col = F.floor(pk / F.lit(20)).cast("long")
    base = (
        F.abs(row - 10).cast("double") * 50.0
        + (25 - col).cast("double") * 2.0
        + ((F.col("id") * 31) % 7).cast("double") * 0.1
    )
    trib = F.when((col % 4 == 1) & (row != 10), F.lit(-45.0)).otherwise(F.lit(0.0))
    return spark.range(1, 501).select(
        row.alias("row"), col.alias("col"), (base + trib).alias("value")
    )


def _so():
    """Lazy import of the independent serial-transcription oracles."""
    from whitebox_tools_spark import serial_oracles

    return serial_oracles


def _serial_values_sql(cells: dict, *, decimals: int | None) -> str:
    """Literal VALUES oracle from a serial_oracles result dict
    {(row, col): value}. decimals=None emits exact doubles (integer-valued
    ids/counts); otherwise DuckDB rounds the full-precision serial value,
    mirroring the engine query's _r6 (+ 0.0 normalizes signed zero). The
    rounding-boundary margin vs the engine-serial float delta is pinned by
    scripts/calibrate_serial_oracles.py + tests/test_serial_oracles.py."""
    rows = ", ".join(
        f"({r}, {c}, {v!r})" for (r, c), v in sorted(cells.items())
    )
    val = (
        f"round(CAST(v AS DOUBLE), {decimals}) + 0.0"
        if decimals is not None
        else "CAST(v AS DOUBLE)"
    )
    return (
        f"SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col, "
        f"{val} AS value FROM (VALUES {rows}) AS t(r, c, v)"
    )


def q_upslope_depression_storage(spark, sf_dir):
    """UpslopeDepressionStorage (hydro_analysis/
    upslope_depression_storage.rs): FD8-accumulated depression depth /
    upslope count over the deterministic epsilon-filled surface
    (W + small_num * plateau-hops). Value-checked against serial_oracles.
    upslope_depression_storage_serial as a literal VALUES oracle over the
    fixed dense20 fixture (engine-serial delta 1.4e-14 vs 2.4e-9 rounding
    margin at 6 dp — calibrate_serial_oracles.py); also pinned in
    tests/test_hydro_random.py."""
    from whitebox_tools_spark.operators.hydro import upslope_depression_storage

    return _r6(
        upslope_depression_storage(
            _fixed_dense20(spark), EXTRACT_GRID,
            flat_increment=0.001, block=16,
        ),
        ["value"],
    )


_DAM_POINTS = [(7, 13), (12, 40), (3, 77)]


def q_impoundment_size_index(spark, sf_dir):
    """ImpoundmentSizeIndex (hydro_analysis/impoundment_index.rs, Lindsay
    2015): window-split dam crest + deterministic flow forest +
    upstream-below-crest aggregate (cutoff filter proven redundant —
    impoundment.py docstring). Full SQL oracle via the shared fill/ptr
    CTEs + recursive walk closure."""
    from whitebox_tools_spark.operators.impoundment import impoundment_size_index

    out = impoundment_size_index(
        _dense20_dem(spark, sf_dir), EXTRACT_GRID, dam_length=5.0, block=16
    )
    return _r6(out, ["dam_height", "area", "volume", "max_depth"])


def q_insert_dams(spark, sf_dir):
    """InsertDams (hydro_analysis/insert_dams.rs): raise the DEM along the
    highest-crest profile through each dam point (first-direction tie
    rule)."""
    from whitebox_tools_spark.operators.impoundment import insert_dams

    dams = spark.createDataFrame(_DAM_POINTS, "row long, col long")
    return _r6(
        insert_dams(_dense20_dem(spark, sf_dir), dams, dam_length=5.0), ["value"]
    )


def _insert_dams_sql() -> str:
    import math as _m

    h = 2
    offs = []
    from whitebox_tools_spark.operators.impoundment import _DIRS

    for di, (_name, _key, (dr, dc)) in enumerate(_DIRS):
        for k in range(-2 * h, 2 * h + 1):
            offs.append(f"({di}, {k}, {k * dr}, {k * dc})")
    steps = ", ".join(
        f"({di}, {dr}, {dc})" for di, (_n, _k, (dr, dc)) in enumerate(_DIRS)
    )
    dams = ", ".join(f"({r}, {c})" for r, c in _DAM_POINTS)
    splits = ", ".join(f"({s})" for s in range(0, 2 * h + 1))
    series = ", ".join(f"({k})" for k in range(-h, h + 1))
    return f"""
WITH cells AS MATERIALIZED (
  SELECT row, col, value FROM ({_DENSE20_SQL}) WHERE value IS NOT NULL
),
offs(dir, k, dr, dc) AS (VALUES {", ".join(offs)}),
splits(s) AS (VALUES {splits}),
mem AS (
  SELECT c.row, c.col, o.dir, o.k, coalesce(b.value, -1e308) AS nz
  FROM cells c CROSS JOIN offs o
  LEFT JOIN cells b ON b.row = c.row + o.dr AND b.col = c.col + o.dc
),
arm AS (
  SELECT m.row, m.col, m.dir, s.s,
         max(CASE WHEN m.k BETWEEN -s.s AND 0 THEN m.nz END) AS l,
         max(CASE WHEN m.k BETWEEN 0 AND {2 * h} - s.s THEN m.nz END) AS r
  FROM mem m CROSS JOIN splits s
  GROUP BY m.row, m.col, m.dir, s.s
),
crest_dir AS (SELECT row, col, dir, max(least(l, r)) AS cd FROM arm GROUP BY 1, 2, 3),
crest AS (SELECT row, col, max(cd) AS crest FROM crest_dir GROUP BY 1, 2),
dams(row, col) AS (VALUES {dams}),
dpick AS (
  SELECT d.row, d.col, c.crest,
         (SELECT min(cd2.dir) FROM crest_dir cd2
          WHERE cd2.row = d.row AND cd2.col = d.col AND cd2.cd = c.crest) AS dir
  FROM dams d JOIN crest c ON c.row = d.row AND c.col = d.col
),
st(dir, sr, sc) AS (VALUES {steps}),
ks(k) AS (VALUES {series}),
lift0 AS (
  SELECT p.row + ks.k * st.sr AS row, p.col + ks.k * st.sc AS col, p.crest
  FROM dpick p JOIN st ON st.dir = p.dir CROSS JOIN ks
),
lift AS (SELECT row, col, max(crest) AS lift FROM lift0 GROUP BY 1, 2)
SELECT c.row, c.col, round(greatest(c.value, coalesce(l.lift, c.value)), 6) AS value
FROM cells c LEFT JOIN lift l ON l.row = c.row AND l.col = c.col
"""


def q_mdinf_flow_accumulation(spark, sf_dir):
    """MDInfFlowAccumulation (hydro_analysis/mdinf_flow_accum.rs, Seibert
    & McGlynn 2007): facet-split multi-direction accumulation via
    mdinf_edges + the weighted-semiring tile stitch. Value-checked against
    serial_oracles.mdinf_serial as a literal VALUES oracle over the fixed
    noise fixture (delta 1.4e-14 vs 1.1e-10 margin at 6 dp); also pinned
    in tests/test_hydro_random.py."""
    from whitebox_tools_spark.operators.hydro import mdinf_flow_accumulation

    return _r6(
        mdinf_flow_accumulation(_fixed_noise(spark), EXTRACT_GRID, block=16),
        ["value"],
    )


def q_rho8_flow_accumulation(spark, sf_dir):
    """Rho8FlowAccumulation plugin: accumulation over the deterministic
    seeded rho8 pointer via the O(log n) tile stitch; oracle = recursive
    path-walk count over the SAME pointer oracle SQL."""
    from whitebox_tools_spark.operators.hydro import rho8_flow_accumulation

    return rho8_flow_accumulation(_noise_raster(spark, sf_dir), EXTRACT_GRID,
                                  seed=7, block=64)


def _rho8_fa_sql() -> str:
    ptr_sql = _hyd.rho8_pointer_oracle_sql(_NOISE_RASTER_SQL, EXTRACT_GRID, seed=7)
    dirs = [(1, 1, -1), (2, 1, 0), (4, 1, 1), (8, 0, 1), (16, -1, 1),
            (32, -1, 0), (64, -1, -1), (128, 0, -1)]
    tr = "CASE pointer " + " ".join(
        f"WHEN {v} THEN row + ({dy})" for v, _dx, dy in dirs
    ) + " END"
    tc = "CASE pointer " + " ".join(
        f"WHEN {v} THEN col + ({dx})" for v, dx, _dy in dirs
    ) + " END"
    return f"""
WITH RECURSIVE p0 AS MATERIALIZED ({ptr_sql}),
ptr AS (SELECT row, col, {tr} AS trow, {tc} AS tcol FROM p0 WHERE pointer <> 0),
walk(urow, ucol, row, col) AS (
  SELECT row, col, row, col FROM p0
  UNION
  SELECT w.urow, w.ucol, p.trow, p.tcol
  FROM walk w JOIN ptr p ON p.row = w.row AND p.col = w.col
)
SELECT row, col, CAST(count(*) AS DOUBLE) AS value FROM walk GROUP BY row, col
"""


def q_quinn_flow_accumulation(spark, sf_dir):
    """QuinnFlowAccumulation plugin (Quinn et al. 1995): contour-length x
    slope MFD weights via the weighted-semiring stitch. Value-checked vs
    serial_oracles.quinn_qin_serial as a literal VALUES oracle over the
    fixed noise fixture (delta 3.6e-15 vs 2.7e-9 margin at 6 dp)."""
    from whitebox_tools_spark.operators.hydro import quinn_flow_accumulation

    return _r6(
        quinn_flow_accumulation(_fixed_noise(spark), EXTRACT_GRID, block=16),
        ["value"],
    )


def q_qin_flow_accumulation(spark, sf_dir):
    """QinFlowAccumulation plugin (Qin et al. 2007): per-cell adaptive
    exponent MFD weights via the stitch. Value-checked vs serial_oracles.
    quinn_qin_serial('qin') as a literal VALUES oracle over the fixed
    noise fixture (delta 3.6e-15 vs 6.9e-10 margin at 6 dp)."""
    from whitebox_tools_spark.operators.hydro import qin_flow_accumulation

    return _r6(
        qin_flow_accumulation(_fixed_noise(spark), EXTRACT_GRID, block=16),
        ["value"],
    )


def q_cost_pathway(spark, sf_dir):
    """CostPathway (gis_analysis/cost_pathway.rs): least-cost paths from 3
    destinations back to the sources over the 20x20 cost surface.
    Value-checked against serial_oracles.cost_pathway_serial (independent
    Dijkstra + backtrace with the engine's documented min-(row,col) tie
    rule) as a literal VALUES oracle."""
    from whitebox_tools_spark.operators.hydro import cost_pathway

    cost = spark.range(400).select(
        (F.col("id") / 20).cast("long").alias("row"),
        (F.col("id") % 20).alias("col"),
        (((F.col("id") * 48271 + 7) % 1000).cast("double") / 100.0 + 1.0).alias("value"),
    )
    sources = spark.createDataFrame([(0, 0), (19, 19)], "row long, col long")
    dests = spark.createDataFrame([(19, 0), (0, 19), (10, 10)], "row long, col long")
    out = cost_pathway(
        cost, sources, dests,
        GridSpec(west=0.0, north=100.0, res_x=5.0, res_y=5.0, rows=20, cols=20),
        block=8, direct_threshold=200,
    )
    return _r6(out, ["acc"])


def _cost_pathway_values_sql() -> str:
    """Literal VALUES oracle for cost_pathway: (dest_id, row, col, acc)
    rows from the independent serial Dijkstra + backtrace, acc rounded to
    6 dp (+ 0.0 signed-zero normalize) to absorb the hierarchical solver's
    re-association delta."""
    rows = _so().cost_pathway_serial(
        _so().cost20_vals(), 5.0, 5.0, [(0, 0), (19, 19)], [(19, 0), (0, 19), (10, 10)]
    )
    vals = ", ".join(f"({d}, {r}, {c}, {a!r})" for d, r, c, a in rows)
    return (
        "SELECT CAST(d AS BIGINT) AS dest_id, CAST(r AS BIGINT) AS row, "
        "CAST(c AS BIGINT) AS col, round(CAST(a AS DOUBLE), 6) + 0.0 AS acc "
        f"FROM (VALUES {vals}) AS t(d, r, c, a)"
    )


def q_fill_burn(spark, sf_dir):
    """FillBurn (hydro_analysis/fill_burn.rs, Saunders 1999): burn the
    extracted valley streams 10,000 down, deterministic epsilon fill
    (W + s*plateau-hops), raise streams by min(dem - filled) - 1; oracle
    reuses the shared fill/plateau CTEs over the burned surface."""
    from whitebox_tools_spark.operators.hydro import fill_burn

    # analytic stream mask (the valley's main stem + every 4th-column
    # tributary below it) — keeps the oracle's recursive fill CTEs from
    # nesting a second recursive stream-extraction query
    dem = _valley_dem(spark, sf_dir)
    streams = dem.filter(
        (F.col("row") == 10) | ((F.col("col") % 4 == 0) & (F.col("row") < 10))
    ).select("row", "col")
    return _r6(fill_burn(dem, streams, block=16), ["value"])


def _fill_burn_sql() -> str:
    from whitebox_tools_spark.operators.hydro import fill_burn_oracle_sql

    streams = (
        f"SELECT row, col FROM ({_VALLEY_DEM_SQL}) "
        "WHERE row = 10 OR (col % 4 = 0 AND row < 10)"
    )
    return fill_burn_oracle_sql(_VALLEY_DEM_SQL, streams)


def q_flood_order(spark, sf_dir):
    """FloodOrder (hydro_analysis/flood_order.rs, Wang-Liu 2006): the
    priority-flood pop rank == rank by (filled elevation, row, col) —
    proven monotone, so one tiled fill + one sort replaces the serial
    flood; oracle = rank over the recursive-CTE fill."""
    from whitebox_tools_spark.operators.hydro import flood_order

    return flood_order(_noise_raster(spark, sf_dir), block=64)


def q_breach_least_cost(spark, sf_dir):
    """BreachDepressionsLeastCost (hydro_analysis/
    breach_depressions_least_cost.rs:235+, Lindsay & Dhun 2015): raise pits
    to min(nb)-s, per-pit bounded least-cost search, carve the cheapest
    channel (fill=False: the carve stage alone — the optional fill pass is
    certified by the green fill_depressions_* queries). Value-checked
    against serial_oracles.breach_least_cost_serial as a literal VALUES
    oracle over the fixed dense20 fixture (bit-exact engine-serial match;
    also pinned in tests/test_breach_least_cost.py, tile=16 exercises
    multi-tile halos)."""
    from whitebox_tools_spark.operators.breach import breach_depressions_least_cost

    return _r6(
        breach_depressions_least_cost(
            _fixed_dense20(spark), EXTRACT_GRID,
            dist=5, max_cost=50.0, flat_increment=0.001, tile=16, fill=False,
        ),
        ["value"],
    )


_PROFILE_SEEDS = [(1, 3, 3), (2, 15, 7)]


def q_long_profile_from_points(spark, sf_dir):
    """LongProfileFromPoints (stream_network_analysis/
    long_profile_from_points.rs): per-seed (distance, z) profile."""
    from whitebox_tools_spark.operators.streams import long_profile_from_points

    seeds = spark.createDataFrame(_PROFILE_SEEDS, "seed_id long, row long, col long")
    out = long_profile_from_points(_valley_dem(spark, sf_dir), STREAM_GRID, seeds)
    return _r6(out.select("seed_id", "seq", "dist", "z"), ["dist", "z"])


def q_stochastic_depression_analysis(spark, sf_dir):
    """StochasticDepressionAnalysis (hydro_analysis/
    stochastic_depression_analysis.rs): pdep over 5 deterministic
    minstd-noise realizations, rmse 5."""
    from whitebox_tools_spark.operators.hydro import stochastic_depression_analysis

    return _r6(
        stochastic_depression_analysis(
            _noise_raster(spark, sf_dir), rmse=5.0, n_iterations=5, block=64
        ),
        ["value"],
    )


def q_heat_map(spark, sf_dir):
    """heat_map plugin: quartic KDE of customer points on NN_GRID,
    radius 60."""
    from whitebox_tools_spark.operators.plugins import heat_map

    pts = _cust_points(spark, sf_dir).select("x", "y")
    return _r6(heat_map(pts, NN_GRID, radius=60.0), ["value"])


def q_otsu_thresholding(spark, sf_dir):
    """otsu_thresholding plugin (Otsu 1979) over the part raster."""
    from whitebox_tools_spark.operators.plugins import otsu_thresholding

    return otsu_thresholding(_part_raster(spark, sf_dir))


def q_extract_by_attribute(spark, sf_dir):
    """extract_by_attribute plugin: SQL predicate filter."""
    from whitebox_tools_spark.operators.plugins import extract_by_attribute

    t = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal", "c_mktsegment")
    out = extract_by_attribute(t, "c_acctbal > 5000.0 AND c_mktsegment = 'BUILDING'")
    return out.select("c_custkey", F.round("c_acctbal", 6).alias("c_acctbal"), "c_mktsegment")


def q_individual_tree_detection(spark, sf_dir):
    """individual_tree_detection plugin: strict local maxima of the cloud
    within 40 units, z >= 5."""
    from whitebox_tools_spark.operators.plugins import individual_tree_detection

    return _r6(
        individual_tree_detection(
            _order_cloud(spark, sf_dir), min_height=5.0, radius=40.0
        ),
        ["x", "y", "z"],
    )


def q_max_upslope_value(spark, sf_dir):
    """max_upslope_value plugin: max of a value raster over upslope cells
    (solve_fa, max semiring)."""
    from whitebox_tools_spark.operators.plugins import max_upslope_value

    dem = _noise_raster(spark, sf_dir)
    vals = _noise_raster(spark, sf_dir).withColumn(
        "value", ((F.col("row") * 13 + F.col("col") * 7) % 101).cast("double")
    )
    return _r6(max_upslope_value(dem, vals, EXTRACT_GRID, block=16), ["value"])


def q_edge_contamination(spark, sf_dir):
    """edge_contamination plugin: 1 where the upslope catchment touches
    the data-extent edge."""
    from whitebox_tools_spark.operators.plugins import edge_contamination

    return _r6(
        edge_contamination(_noise_raster(spark, sf_dir), EXTRACT_GRID, block=16),
        ["value"],
    )


def q_breach_single_cell_pits(spark, sf_dir):
    """BreachSingleCellPits (hydro_analysis/breach_pits.rs:199-235)."""
    from whitebox_tools_spark.operators.hydro import breach_single_cell_pits

    return _r6(
        breach_single_cell_pits(_noise_raster(spark, sf_dir), EXTRACT_GRID), ["value"]
    )


_MSDN_SIG_CELLS = [(3, 4), (10, 12), (15, 20)]


def q_msdn_signature(spark, sf_dir):
    """MultiscaleStdDevNormalsSignature (terrain_analysis/
    multiscale_std_dev_normals_signature.rs): the per-scale SSDN values
    sampled at given points — one row per (point, filter scale)."""
    from whitebox_tools_spark.operators.multiscale import (
        spherical_std_dev_of_normals,
    )

    dem = _valley_dem(spark, sf_dir)
    parts = []
    for fs in (5, 7, 9):
        parts.append(
            spherical_std_dev_of_normals(dem, STREAM_GRID, filter_size=fs).select(
                "row", "col", F.round("value", 6).alias("value"),
                F.lit(int(fs)).alias("scale"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    pts = spark.createDataFrame(
        [(i + 1, r, c) for i, (r, c) in enumerate(_MSDN_SIG_CELLS)],
        "point_id long, row long, col long",
    )
    return pts.join(u, ["row", "col"]).select("point_id", "scale", "value")


def _msdn_sig_sql() -> str:
    from whitebox_tools_spark.operators.multiscale import ssdn_oracle_sql

    unions = "\nUNION ALL\n".join(
        f"SELECT row, col, round(value, 6) AS value, {fs} AS scale FROM ("
        + ssdn_oracle_sql(_VALLEY_DEM_SQL, STREAM_GRID, filter_size=fs)
        + ") t"
        for fs in (5, 7, 9)
    )
    pts = ", ".join(f"({i + 1}, {r}, {c})" for i, (r, c) in enumerate(_MSDN_SIG_CELLS))
    return f"""
WITH u AS ({unions}),
pts(point_id, row, col) AS (VALUES {pts})
SELECT CAST(p.point_id AS BIGINT) AS point_id, CAST(u.scale AS BIGINT) AS scale, u.value
FROM pts p JOIN u ON u.row = p.row AND u.col = p.col
"""


def q_multiscale_std_dev_normals(spark, sf_dir):
    """MultiscaleStdDevNormals (terrain_analysis/
    multiscale_std_dev_normals.rs), filters 5/7/9 (gaussian branch)."""
    from whitebox_tools_spark.operators.multiscale import multiscale_std_dev_normals

    return _r6(
        multiscale_std_dev_normals(
            _valley_dem(spark, sf_dir), STREAM_GRID, filters=(5, 7, 9)
        ),
        ["magnitude"],
    )


def q_multiscale_roughness_signature(spark, sf_dir):
    """MultiscaleRoughnessSignature (terrain_analysis/
    multiscale_roughness_signature.rs): per-scale roughness at points."""
    from whitebox_tools_spark.operators.multiscale import (
        _roughness_per_scale,
        signature_at_points,
    )

    dem = _valley_dem(spark, sf_dir)
    pts = dem.filter((F.col("row") * 7 + F.col("col")) % 97 == 0).select(
        (F.col("row") * 1000 + F.col("col")).alias("point_id"), "row", "col"
    )
    parts = []
    for m in (2, 3):
        parts.append(
            _roughness_per_scale(dem, STREAM_GRID, m).select(
                "row", "col", F.col("rough").alias("value"),
                F.col("scale").cast("long").alias("scale"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return _r6(signature_at_points(u, pts), ["value"])


def q_max_anisotropy_dev_signature(spark, sf_dir):
    """MaxAnisotropyDevSignature (terrain_analysis/
    max_anisotropy_dev_signature.rs): per-scale anisotropy at points."""
    from whitebox_tools_spark.operators.multiscale import (
        _anisotropy_per_scale,
        signature_at_points,
    )

    dem = _valley_dem(spark, sf_dir)
    pts = dem.filter((F.col("row") * 7 + F.col("col")) % 97 == 0).select(
        (F.col("row") * 1000 + F.col("col")).alias("point_id"), "row", "col"
    )
    parts = []
    for m in (2, 3):
        parts.append(
            _anisotropy_per_scale(dem, m).select(
                "row", "col", F.col("aniso").alias("value"),
                F.col("scale").cast("long").alias("scale"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return _r6(signature_at_points(u, pts), ["value"])


def q_find_lowest_highest_points(spark, sf_dir):
    """FindLowestOrHighestPoints (gis_analysis/
    find_lowest_or_highest_points.rs): the raster's min and max cells as
    points (out_type=both)."""
    dem = _noise_raster(spark, sf_dir).filter(F.col("value").isNotNull())
    st = dem.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    j = dem.crossJoin(F.broadcast(st))
    lo = j.filter(F.col("value") == F.col("mn")).select(
        F.lit(1).alias("point_id"), "row", "col", "value"
    )
    hi = j.filter(F.col("value") == F.col("mx")).select(
        F.lit(2).alias("point_id"), "row", "col", "value"
    )
    return lo.unionByName(hi)


_WALL_LINES = [(0, [2.0, 48.0], [10.0, 990.0]), (1, [1.0, 49.0], [500.0, 520.0])]
_LAKES = [
    (0, [([1.0, 1.0, 45.0, 45.0, 1.0], [100.0, 300.0, 300.0, 100.0, 100.0], False)]),
    (1, [([10.0, 10.0, 40.0, 40.0, 10.0], [600.0, 800.0, 800.0, 600.0, 600.0], False)]),
]


def q_downslope_index(spark, sf_dir):
    """DownslopeIndex (terrain_analysis/downslope_index.rs, Hjerdt 2004),
    drop=10, tangent output."""
    from whitebox_tools_spark.operators.hydro import downslope_index

    return _r6(
        downslope_index(_valley_dem(spark, sf_dir), STREAM_GRID, drop=10.0),
        ["value"],
    )


def q_raise_walls(spark, sf_dir):
    """RaiseWalls (hydro_analysis/raise_walls.rs): +100 on wall-line cells."""
    from whitebox_tools_spark.operators.raster_vector import raise_walls

    walls = spark.createDataFrame(
        _WALL_LINES, "line_id long, xs array<double>, ys array<double>"
    )
    return _r6(
        raise_walls(_noise_raster(spark, sf_dir), walls, EXTRACT_GRID, height=100.0),
        ["value"],
    )


def q_flatten_lakes(spark, sf_dir):
    """FlattenLakes (hydro_analysis/flatten_lakes.rs): lake interiors set
    to the minimum perimeter elevation."""
    from whitebox_tools_spark.operators.raster_vector import flatten_lakes

    return _r6(
        flatten_lakes(_noise_raster(spark, sf_dir), EXTRACT_GRID, _LAKES, IDX),
        ["value"],
    )


def _wall_segs_cte() -> str:
    segs = []
    for lid, xs, ys in _WALL_LINES:
        for i in range(len(xs) - 1):
            segs.append(
                f"({lid}, {i}, {xs[i]!r}, {ys[i]!r}, {xs[i + 1]!r}, {ys[i + 1]!r})"
            )
    return (
        "SELECT * FROM (VALUES " + ", ".join(segs)
        + ") AS t(line_id, seg_idx, px0, py0, px1, py1)"
    )


def _raise_walls_sql() -> str:
    wall_cells = _lines_raster_from_segs(_wall_segs_cte(), EXTRACT_GRID)
    return f"""
WITH dem AS (SELECT row, col, value FROM ({_NOISE_RASTER_SQL}) WHERE value IS NOT NULL),
w AS (SELECT DISTINCT row, col FROM ({wall_cells}) t)
SELECT d.row, d.col,
       round(CASE WHEN w.row IS NOT NULL THEN d.value + 100.0 ELSE d.value END, 6) AS value
FROM dem d LEFT JOIN w ON w.row = d.row AND w.col = d.col
"""


def _flatten_lakes_sql() -> str:
    segs = []
    for pid, parts in _LAKES:
        for xs, ys, hole in parts:
            for i in range(len(xs) - 1):
                segs.append(
                    f"({pid}, {i}, {xs[i]!r}, {ys[i]!r}, {xs[i + 1]!r}, {ys[i + 1]!r})"
                )
    seg_cte = (
        "SELECT * FROM (VALUES " + ", ".join(segs)
        + ") AS t(line_id, seg_idx, px0, py0, px1, py1)"
    )
    per_cells = _lines_raster_from_segs(seg_cte, EXTRACT_GRID)
    lake_polys = [
        synth.Poly(pid, tuple(
            synth.Part(tuple(xs), tuple(ys), hole) for xs, ys, hole in parts
        ))
        for pid, parts in _LAKES
    ]
    pip = synth.pip_oracle_sql(_grid_centers_cte(EXTRACT_GRID), lake_polys)
    g = EXTRACT_GRID
    return f"""
WITH dem AS (SELECT row, col, value FROM ({_NOISE_RASTER_SQL}) WHERE value IS NOT NULL),
per AS (SELECT row, col, CAST(value - 1 AS BIGINT) AS lake FROM ({per_cells}) t),
mn AS (SELECT per.lake, min(dem.value) AS lake_z
       FROM per JOIN dem ON dem.row = per.row AND dem.col = per.col
       GROUP BY per.lake),
hits AS ({pip}),
interior AS (
  SELECT CAST(floor(point_id / {g.cols}.0) AS BIGINT) AS row,
         point_id % {g.cols} AS col,
         CAST(max(poly_id) AS BIGINT) AS lake
  FROM hits GROUP BY point_id
)
SELECT d.row, d.col, round(coalesce(mn.lake_z, d.value), 6) AS value
FROM dem d
LEFT JOIN interior i ON i.row = d.row AND i.col = d.col
LEFT JOIN mn ON mn.lake = i.lake
"""


def q_sink(spark, sf_dir):
    """Sink (hydro_analysis/sink.rs): 8-connected components of the cells
    raised by depression filling, scan-order ids (shared with the oracle's
    min-label closure + dense renumbering)."""
    from whitebox_tools_spark.operators.hydro import sink

    return sink(_noise_raster(spark, sf_dir))


def q_normalized_difference(spark, sf_dir):
    """Multi-band cell table -> normalized difference index (a-b)/(a+b)
    (image_analysis band composites; multi-band schema per SURVEY 1.1)."""
    b1 = _part_raster(spark, sf_dir).withColumn("band", F.lit(1))
    b2 = _part_raster2(spark, sf_dir).withColumn("band", F.lit(2))
    banded = b1.unionByName(b2)
    out = RM.normalized_difference(banded, 1, 2)
    return _r6(out, ["value"])


def q_normalized_difference_index(spark, sf_dir):
    """NormalizedDifferenceIndex (image_analysis/normalized_difference_index.rs:
    295-330): (a-b)/(a+b+correction) with correction=50 and the 1% percent
    clip (Raster::clip_min_and_max_by_percent, whitebox-raster/src/lib.rs:
    900-940)."""
    a = _part_raster(spark, sf_dir)
    b = _part_raster2(spark, sf_dir)
    out = RM.normalized_difference_index(a, b, correction=50.0, clip_percent=1.0)
    return _r6(out, ["value"])


def q_inplace_ops_all(spark, sf_dir):
    """InPlaceAdd/Subtract/Multiply/Divide (math_stat_analysis/
    inplace_add.rs:212-257 + the _subtract/_multiply/_divide siblings):
    every op over both the raster-raster and raster-constant paths, one
    labeled block per case (nodata propagation = SQL NULL propagation)."""
    a = _part_raster(spark, sf_dir)
    b = _part_raster2(spark, sf_dir)
    parts = []
    for op in RM.INPLACE_OPS:
        parts.append(
            RM.inplace_op(a, b, op).select(
                F.lit(op).alias("op"), F.lit("raster").alias("mode"),
                "row", "col", F.round(F.col("value"), 6).alias("value"),
            )
        )
        parts.append(
            RM.inplace_op(a, 7.5, op).select(
                F.lit(op).alias("op"), F.lit("const").alias("mode"),
                "row", "col", F.round(F.col("value"), 6).alias("value"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def q_random_field(spark, sf_dir):
    """RandomField (math_stat_analysis/random_field.rs) — deterministic
    seeded hash variant (reference is entropy-seeded, irreproducible)."""
    from whitebox_tools_spark.operators.random import random_field

    return _r6(random_field(spark, NN_GRID, seed=7), ["value"])


def q_random_sample(spark, sf_dir):
    """RandomSample (math_stat_analysis/random_sample.rs): 100 cells with
    unique sample ids, deterministic hash order."""
    from whitebox_tools_spark.operators.random import random_sample

    return random_sample(_part_raster(spark, sf_dir), 100, seed=3)


def q_sobel(spark, sf_dir):
    """SobelFilter (image_analysis/sobel_filter.rs:316-331)."""
    from whitebox_tools_spark.operators.focal import sobel_filter

    return _r6(sobel_filter(_part_raster(spark, sf_dir)), ["value"])


def _q_conv(kernel_name):
    def q(spark, sf_dir):
        from whitebox_tools_spark.operators import focal as FO

        k = _CONV_KERNELS[kernel_name]
        return _r6(FO.conv_filter(_part_raster(spark, sf_dir), k), ["value"])

    q.__doc__ = f"{kernel_name} convolution (image_analysis/{kernel_name}_filter.rs)"
    return q


def _conv_kernels():
    from whitebox_tools_spark.operators import focal as FO

    return {
        "emboss": FO.EMBOSS,
        "laplacian": FO.LAPLACIAN,
        "gaussian": FO.gaussian_kernel(0.8),
        "dog": FO.dog_kernel(0.8, 1.2),
        "log": FO.log_kernel(0.8),
        "line_v": FO.LINE_DETECTION_KERNELS["vertical"],
    }


_CONV_KERNELS = _conv_kernels()
q_emboss = _q_conv("emboss")
q_laplacian = _q_conv("laplacian")
q_gaussian = _q_conv("gaussian")
q_dog = _q_conv("dog")
q_log = _q_conv("log")
q_line_detection = _q_conv("line_v")


def q_prewitt(spark, sf_dir):
    """PrewittFilter (image_analysis/prewitt_filter.rs:287-309)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.prewitt_filter(_part_raster(spark, sf_dir)), ["value"])


def q_scharr(spark, sf_dir):
    """ScharrFilter (image_analysis/scharr_filter.rs:288-309)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.scharr_filter(_part_raster(spark, sf_dir)), ["value"])


def q_roberts(spark, sf_dir):
    """RobertsCrossFilter (image_analysis/roberts_filter.rs:295-316)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.roberts_filter(_part_raster(spark, sf_dir)), ["value"])


def q_unsharp(spark, sf_dir):
    """UnsharpMasking (image_analysis/unsharp_masking.rs:257,400-414)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(
        FO.unsharp_masking(_part_raster(spark, sf_dir), sigma=0.8, amount=50.0),
        ["value"],
    )


def _stack3(spark, sf_dir) -> DataFrame:
    """3-band stack: 1=price, 2=size, 3=partkey%97."""
    return (
        _part_raster(spark, sf_dir).withColumn("band", F.lit(1))
        .unionByName(_part_raster2(spark, sf_dir).withColumn("band", F.lit(2)))
        .unionByName(_part_raster3(spark, sf_dir).withColumn("band", F.lit(3)))
    )


_STACK3_SQL = (
    f"SELECT 1 AS band, row, col, value FROM ({_PART_RASTER_SQL}) t1 "
    f"UNION ALL SELECT 2, row, col, value FROM ({_PART_RASTER2_SQL}) t2 "
    f"UNION ALL SELECT 3, row, col, value FROM ({_PART_RASTER3_SQL}) t3"
)


def _parts_df(spark):
    rows = []
    for pid, parts in PARTS:
        for k, (xs, ys, hole) in enumerate(parts):
            rows.append((pid, k, hole, [float(v) for v in xs], [float(v) for v in ys]))
    return spark.createDataFrame(
        rows, "poly_id long, part_idx int, is_hole boolean, xs array<double>, ys array<double>"
    )


def q_polygon_long_axis(spark, sf_dir):
    """PolygonLongAxis (gis_analysis/polygon_long_axis.rs): longer MBB
    axis length per feature (the reference draws it as a line)."""
    from whitebox_tools_spark.operators.vector_ops import polygon_long_axis

    return _r6(polygon_long_axis(_parts_df(spark)), ["length"])


def q_polygon_short_axis(spark, sf_dir):
    """PolygonShortAxis (gis_analysis/polygon_short_axis.rs)."""
    from whitebox_tools_spark.operators.vector_ops import polygon_short_axis

    return _r6(polygon_short_axis(_parts_df(spark)), ["length"])


def q_minimum_bounding_circle(spark, sf_dir):
    """MinimumBoundingCircle (gis_analysis/minimum_bounding_circle.rs):
    smallest enclosing circle per feature."""
    from whitebox_tools_spark.operators.vector_ops import minimum_bounding_circle

    return _r6(minimum_bounding_circle(_parts_df(spark)), ["cx", "cy", "radius"])


def q_related_circumscribing_circle(spark, sf_dir):
    """RelatedCircumscribingCircle (gis_analysis/
    related_circumscribing_circle.rs:220-240): 1 - area/circle area."""
    from whitebox_tools_spark.operators.vector_ops import related_circumscribing_circle

    return _r6(related_circumscribing_circle(_parts_df(spark)), ["value"])


def q_extend_vector_lines(spark, sf_dir):
    """ExtendVectorLines (gis_analysis/extend_vector_lines.rs), 15 units,
    both ends; emitted as terminal coordinates per line."""
    from whitebox_tools_spark.operators.vector_ops import extend_vector_lines

    out = extend_vector_lines(_cust_lines(spark, sf_dir), dist=15.0)
    return out.select(
        "line_id",
        F.round(F.element_at("xs", 1), 6).alias("sx"),
        F.round(F.element_at("ys", 1), 6).alias("sy"),
        F.round(F.element_at("xs", F.size("xs")), 6).alias("ex"),
        F.round(F.element_at("ys", F.size("ys")), 6).alias("ey"),
        F.size("xs").cast("long").alias("nv"),
    )


def q_layer_footprint(spark, sf_dir):
    """LayerFootprint (gis_analysis/layer_footprint.rs): layer extent."""
    from whitebox_tools_spark.operators.vector_ops import layer_footprint

    return _r6(layer_footprint(_parts_df(spark)), ["xmin", "ymin", "xmax", "ymax"])


def q_elongation_ratio(spark, sf_dir):
    """ElongationRatio (gis_analysis/elongation_ratio.rs): 1 - S/L of the
    minimum-area oriented bounding box."""
    from whitebox_tools_spark.operators.vector_ops import elongation_ratio

    return _r6(elongation_ratio(_parts_df(spark)), ["elongation"])


def q_shape_complexity_index(spark, sf_dir):
    """ShapeComplexityIndex (gis_analysis/shape_complexity_index.rs:218-245)."""
    from whitebox_tools_spark.operators.vector_ops import shape_complexity_index

    return _r6(shape_complexity_index(_parts_df(spark)), ["sci"])


def q_perimeter_area_ratio(spark, sf_dir):
    """PerimeterAreaRatio (gis_analysis/perimeter_area_ratio.rs)."""
    from whitebox_tools_spark.operators.vector_ops import perimeter_area_ratio

    return _r6(perimeter_area_ratio(_parts_df(spark)), ["ratio"])


def q_hole_proportion(spark, sf_dir):
    """HoleProportion (gis_analysis/hole_proportion.rs)."""
    from whitebox_tools_spark.operators.vector_ops import hole_proportion

    return _r6(hole_proportion(_parts_df(spark)), ["hole_prop"])


def q_linearity_index(spark, sf_dir):
    """LinearityIndex (gis_analysis/linearity_index.rs:225-260)."""
    from whitebox_tools_spark.operators.vector_ops import linearity_index

    return _r6(linearity_index(_parts_df(spark)), ["linearity"])


def q_patch_orientation(spark, sf_dir):
    """PatchOrientation (gis_analysis/patch_orientation.rs, RMA slope)."""
    from whitebox_tools_spark.operators.vector_ops import patch_orientation

    return _r6(patch_orientation(_parts_df(spark)), ["orientation"])


def _edges_df(spark, parts_list):
    rows = []
    for pid, parts in parts_list:
        for xs, ys, _hole in parts:
            for i in range(len(xs) - 1):
                rows.append(
                    (pid, float(xs[i]), float(ys[i]), float(xs[i + 1]), float(ys[i + 1]))
                )
    return spark.createDataFrame(
        rows, "poly_id long, x0 double, y0 double, x1 double, y1 double"
    )


def q_filter_features_by_area(spark, sf_dir):
    """FilterRasterFeaturesByArea (gis_analysis/
    filter_raster_features_by_area.rs): clumps under 5 cells to 0."""
    from whitebox_tools_spark.operators.raster_vector import filter_features_by_area

    cells = RM.reclass(
        _part_raster(spark, sf_dir),
        [(1.0, 0.0, 1500.0), (2.0, 1500.0, 99999.0)],
    )
    return filter_features_by_area(cells, min_cells=5)


def q_create_plane(spark, sf_dir):
    """CreatePlane (gis_analysis/create_plane.rs): gradient/aspect plane
    over NN_GRID — z = z0 + tan(slope)*(cos(az')*dy_n + sin(az')*dx_e)
    style; here the simple planar surface a + b*x + c*y at cell centers."""
    g = NN_GRID
    dense = (
        spark.range(g.rows).select(F.col("id").alias("row"))
        .crossJoin(spark.range(g.cols).select(F.col("id").alias("col")))
    )
    x = F.expr(g.x_center_sql("col"))
    y = F.expr(g.y_center_sql("row"))
    return _r6(
        dense.select(
            "row", "col", (F.lit(100.0) + 0.05 * x - 0.02 * y).alias("value")
        ),
        ["value"],
    )


def q_raster_cell_assignment(spark, sf_dir):
    """RasterCellAssignment (gis_analysis/raster_cell_assignment.rs):
    assign each cell its x-coordinate."""
    r = _part_raster(spark, sf_dir)
    return _r6(
        r.selectExpr("row", "col", f"{EXTRACT_GRID.x_center_sql('col')} AS value"),
        ["value"],
    )


def q_eliminate_coincident_points(spark, sf_dir):
    """EliminateCoincidentPoints (gis_analysis/
    eliminate_coincident_points.rs): one point kept per 25-unit snap cell
    (lowest id; grid-snap stands in for the reference's radius search —
    documented simplification)."""
    p = _cust_points(spark, sf_dir).drop("z")
    snapped = p.select(
        "point_id", "x", "y",
        F.floor(F.col("x") / 25.0).alias("sx"), F.floor(F.col("y") / 25.0).alias("sy"),
    )
    keep = snapped.groupBy("sx", "sy").agg(F.min("point_id").alias("point_id"))
    return (
        keep.join(p, "point_id")
        .select("point_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"))
    )


def q_medoid(spark, sf_dir):
    """Medoid (gis_analysis/medoid.rs:230-280) of the customer points."""
    from whitebox_tools_spark.operators.vector_ops import medoid

    return _r6(medoid(_cust_points(spark, sf_dir).drop("z")), ["x", "y"])


def q_line_intersections(spark, sf_dir):
    """LineIntersections (gis_analysis/line_intersections.rs) between the
    two seeded polygon layers' boundaries."""
    from whitebox_tools_spark.operators.vector_ops import line_intersections

    return line_intersections(
        _edges_df(spark, PARTS_A), _edges_df(spark, PARTS)
    )


def q_class_centroid(spark, sf_dir):
    """Centroid (gis_analysis/centroid.rs) of raster classes."""
    return _r6(
        RM.class_centroid(_part_raster2(spark, sf_dir), EXTRACT_GRID), ["cx", "cy"]
    )


def q_minimum_bounding_envelope(spark, sf_dir):
    """MinimumBoundingEnvelope (gis_analysis/minimum_bounding_envelope.rs)."""
    from whitebox_tools_spark.operators.vector_ops import minimum_bounding_envelope

    return _r6(
        minimum_bounding_envelope(_parts_df(spark)),
        ["min_x", "max_x", "min_y", "max_y"],
    )


def q_print_geotiff_tags(spark, sf_dir):
    """PrintGeoTiffTags (data_tools/print_geotiff_tags.rs): write a
    deterministic 10x10 float64 GeoTIFF with the engine's own codec, dump
    its IFD as (tag, value) rows. Strip layout tags 273/279 (offsets/byte
    counts) are excluded — they are zlib-payload artifacts, not raster
    metadata. sf-independent by construction; oracle is the pinned literal."""
    import tempfile

    from whitebox_tools_spark.geotiff import print_geotiff_tags, write_geotiff
    from whitebox_tools_spark.grid import GridSpec

    g = GridSpec(west=0.0, north=100.0, res_x=10.0, res_y=10.0, rows=10, cols=10)
    cells = spark.range(100).select(
        (F.col("id") / 10).cast("long").alias("row"),
        (F.col("id") % 10).alias("col"),
        ((F.col("id") * 7 % 13) + 1.0).cast("double").alias("value"),
    )
    path = tempfile.mktemp(suffix=".tif")
    write_geotiff(cells, g, path)
    rows = [(t, v) for t, v in print_geotiff_tags(path) if t not in (273, 279)]
    return spark.createDataFrame(rows, "tag int, value string")


def q_convert_raster_format(spark, sf_dir):
    """ConvertRasterFormat (data_tools/convert_raster_format.rs): the part
    raster round-trips ASCII grid -> GeoTIFF -> parquet cell table; output =
    the re-read cells (non-nodata), which must equal the input exactly
    (float64 end-to-end: repr() ASCII writer, <f8 GeoTIFF payload)."""
    import tempfile

    from whitebox_tools_spark.geotiff import convert_raster_format
    from whitebox_tools_spark.sources import read_cells, write_ascii_grid

    d = tempfile.mkdtemp()
    cells = _part_raster(spark, sf_dir)
    write_ascii_grid(cells, EXTRACT_GRID, f"{d}/a.asc")
    convert_raster_format(spark, f"{d}/a.asc", f"{d}/b.tif")
    convert_raster_format(spark, f"{d}/b.tif", f"{d}/c.parquet")
    out = read_cells(spark, f"{d}/c.parquet")
    return out.filter(F.col("value").isNotNull()).select("row", "col", "value")


def q_reclass_from_file(spark, sf_dir):
    """ReclassFromFile (data_tools/reclass_from_file.rs): (new, lower,
    upper) rules loaded from a CSV file, then the shared reclass CASE
    chain ([lower, upper), pass-through otherwise)."""
    import tempfile

    from whitebox_tools_spark.operators.raster_math import reclass_from_file

    path = tempfile.mktemp(suffix=".csv")
    with open(path, "w") as fh:
        fh.write("1.0,900.0,1200.0\n2.0,1200.0,1600.0\n3.0,1600.0,2000.0\n")
    return reclass_from_file(_part_raster(spark, sf_dir), path).select(
        "row", "col", F.round("value", 6).alias("value")
    )


def q_minimum_convex_hull(spark, sf_dir):
    """MinimumConvexHull (gis_analysis/minimum_convex_hull.rs:210-280):
    per-feature hulls plus the pooled single-hull mode (Point-input path),
    ring order clockwise from the lowest-then-rightmost vertex by angle
    around the hull bbox center."""
    from whitebox_tools_spark.operators.vector_ops import minimum_convex_hull

    per = minimum_convex_hull(_parts_df(spark)).select(
        F.lit("feature").alias("mode"), "poly_id", "seq",
        F.round("x", 6).alias("x"), F.round("y", 6).alias("y"),
    )
    pooled = minimum_convex_hull(_parts_df(spark), per_feature=False).select(
        F.lit("pooled").alias("mode"), "poly_id", "seq",
        F.round("x", 6).alias("x"), F.round("y", 6).alias("y"),
    )
    return per.unionByName(pooled)


def _convex_hull_sql() -> str:
    """Independent extreme-point oracle: v is a hull vertex iff the largest
    circular gap between directions to all other distinct vertices exceeds
    pi (strictly — collinear mid-edge points sit at exactly pi and drop,
    matching the reference's strict-Left Graham scan)."""
    body = """
dv AS (SELECT DISTINCT poly_id, x, y FROM pool),
pairs AS (SELECT a.poly_id, a.x, a.y, atan2(b.y - a.y, b.x - a.x) AS ang
          FROM dv a JOIN dv b ON a.poly_id = b.poly_id
          WHERE a.x <> b.x OR a.y <> b.y),
w AS (SELECT poly_id, x, y, ang,
             lead(ang) OVER (PARTITION BY poly_id, x, y ORDER BY ang) AS nxt,
             min(ang) OVER (PARTITION BY poly_id, x, y) AS mn,
             max(ang) OVER (PARTITION BY poly_id, x, y) AS mx
      FROM pairs),
gaps AS (SELECT poly_id, x, y,
                max(coalesce(nxt - ang, mn + 2 * pi() - mx)) AS gap
         FROM w GROUP BY poly_id, x, y),
hull AS (SELECT poly_id, x, y FROM gaps WHERE gap > pi() + 1e-9),
ctr AS (SELECT poly_id, (min(x) + max(x)) / 2.0 AS cx,
               (min(y) + max(y)) / 2.0 AS cy
        FROM hull GROUP BY poly_id),
aa AS (SELECT h.poly_id, h.x, h.y, atan2(h.y - c.cy, h.x - c.cx) AS ang
       FROM hull h JOIN ctr c ON h.poly_id = c.poly_id),
st AS (SELECT poly_id, ang AS a0 FROM (
         SELECT poly_id, ang,
                row_number() OVER (PARTITION BY poly_id
                                   ORDER BY y ASC, x DESC) AS rk
         FROM aa) WHERE rk = 1),
sq AS (SELECT aa.poly_id, aa.x, aa.y,
              row_number() OVER (
                PARTITION BY aa.poly_id
                ORDER BY fmod(st.a0 - aa.ang + 2 * pi(), 2 * pi()), aa.x, aa.y
              ) AS seq
       FROM aa JOIN st ON aa.poly_id = st.poly_id)
"""
    return f"""
WITH {_vertices_values_cte()},
feat AS (
  WITH pool AS (SELECT poly_id, x, y FROM verts),
  {body}
  SELECT 'feature' AS mode, CAST(poly_id AS BIGINT) AS poly_id,
         CAST(seq AS INT) AS seq, round(x, 6) AS x, round(y, 6) AS y
  FROM sq
),
pooled AS (
  WITH pool AS (SELECT 1 AS poly_id, x, y FROM verts),
  {body}
  SELECT 'pooled' AS mode, CAST(poly_id AS BIGINT) AS poly_id,
         CAST(seq AS INT) AS seq, round(x, 6) AS x, round(y, 6) AS y
  FROM sq
)
SELECT * FROM feat UNION ALL SELECT * FROM pooled
"""


def q_extract_nodes(spark, sf_dir):
    """ExtractNodes (gis_analysis/extract_nodes.rs)."""
    from whitebox_tools_spark.operators.vector_ops import extract_nodes

    return _r6(extract_nodes(_parts_df(spark)), ["x", "y"])


def q_smooth_vectors(spark, sf_dir):
    """SmoothVectors (gis_analysis/smooth_vectors.rs:250-280, filter 3,
    endpoints pinned)."""
    from whitebox_tools_spark.operators.vector_ops import smooth_vectors

    return _r6(smooth_vectors(_parts_df(spark), filter_size=3), ["x", "y"])


def q_radius_of_gyration(spark, sf_dir):
    """RadiusOfGyration (gis_analysis/radius_of_gyration.rs:230-330)."""
    return _r6(
        RM.radius_of_gyration(_part_raster2(spark, sf_dir), res_x=5.0, res_y=5.0),
        ["rog"],
    )


def q_edge_proportion(spark, sf_dir):
    """EdgeProportion (gis_analysis/edge_proportion.rs)."""
    return _r6(RM.edge_proportion(_part_raster2(spark, sf_dir)), ["proportion"])


def q_raster_area(spark, sf_dir):
    """RasterArea (gis_analysis/raster_area.rs) over the size-class raster."""
    return RM.raster_area(_part_raster2(spark, sf_dir), res_x=5.0, res_y=5.0)


def q_raster_perimeter(spark, sf_dir):
    """RasterPerimeter (gis_analysis/raster_perimeter.rs:517-600,
    Prewitt-Mendelsohn LUT) over the size-class raster."""
    return _r6(
        RM.raster_perimeter(_part_raster2(spark, sf_dir), res_x=5.0, res_y=5.0),
        ["perimeter"],
    )


def q_find_patch_edge_cells(spark, sf_dir):
    """FindPatchOrClassEdgeCells (gis_analysis/find_patch_edge_cells.rs)."""
    return RM.find_patch_edge_cells(_part_raster2(spark, sf_dir))


def q_update_nodata_cells(spark, sf_dir):
    """UpdateNodataCells (gis_analysis/update_nodata_cells.rs): the price
    raster with odd rows nulled, filled from the size raster."""
    a = _part_raster(spark, sf_dir).select(
        "row", "col",
        F.when(F.col("row") % 2 == 0, F.col("value")).alias("value"),
    )
    return RM.update_nodata_cells(a, _part_raster2(spark, sf_dir))


def q_reclass_equal_interval(spark, sf_dir):
    """ReclassEqualInterval (gis_analysis/reclass_equal_interval.rs)."""
    return RM.reclass_equal_interval(_part_raster(spark, sf_dir), interval=250.0)


def _q_stack(op):
    def q(spark, sf_dir):
        from whitebox_tools_spark.operators.raster_math import stack_overlay

        return _r6(stack_overlay(_stack3(spark, sf_dir), op), ["value"])

    q.__doc__ = f"{op} overlay (gis_analysis/{op}_overlay.rs) over the 3-band stack"
    return q


q_max_overlay = _q_stack("max")
q_min_overlay = _q_stack("min")
q_sum_overlay = _q_stack("sum")
q_average_overlay = _q_stack("average")
q_multiply_overlay = _q_stack("multiply")
q_max_abs_overlay = _q_stack("max_abs")
q_min_abs_overlay = _q_stack("min_abs")


def q_highest_pos(spark, sf_dir):
    """HighestPosition (gis_analysis/highest_pos.rs)."""
    from whitebox_tools_spark.operators.raster_math import stack_position

    return stack_position(_stack3(spark, sf_dir), highest=True)


def q_lowest_pos(spark, sf_dir):
    """LowestPosition (gis_analysis/lowest_pos.rs)."""
    from whitebox_tools_spark.operators.raster_math import stack_position

    return stack_position(_stack3(spark, sf_dir), highest=False)


def q_count_if(spark, sf_dir):
    """CountIf (gis_analysis/count_if.rs): bands equal to 5.0 per cell."""
    from whitebox_tools_spark.operators.raster_math import count_if

    return count_if(_stack3(spark, sf_dir), value=5.0)


def q_percent_greater_than(spark, sf_dir):
    """PercentGreaterThan (gis_analysis/percent_greater_than.rs): stack vs
    the size raster."""
    from whitebox_tools_spark.operators.raster_math import percent_compare

    return _r6(
        percent_compare(_stack3(spark, sf_dir), _part_raster2(spark, sf_dir), op="gt"),
        ["value"],
    )


def q_percent_less_than(spark, sf_dir):
    """PercentLessThan (gis_analysis/percent_less_than.rs)."""
    from whitebox_tools_spark.operators.raster_math import percent_compare

    return _r6(
        percent_compare(_stack3(spark, sf_dir), _part_raster2(spark, sf_dir), op="lt"),
        ["value"],
    )


def q_percent_equal_to(spark, sf_dir):
    """PercentEqualTo (gis_analysis/percent_equal_to.rs)."""
    from whitebox_tools_spark.operators.raster_math import percent_compare

    return _r6(
        percent_compare(_stack3(spark, sf_dir), _part_raster2(spark, sf_dir), op="eq"),
        ["value"],
    )


def q_pick_from_list(spark, sf_dir):
    """PickFromList (gis_analysis/pick_from_list.rs): position raster =
    1 + (partkey % 3)."""
    from whitebox_tools_spark.operators.raster_math import pick_from_list

    pos = _part_raster3(spark, sf_dir).select(
        "row", "col", (F.col("value") % 3 + 1).alias("value")
    )
    return pick_from_list(_stack3(spark, sf_dir), pos)


def q_rgb_to_ihs(spark, sf_dir):
    """RgbToIhs (image_analysis/rgb_to_ihs.rs:810-830)."""
    from whitebox_tools_spark.operators import color as CO

    out = CO.rgb_to_ihs(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir),
        _part_raster3(spark, sf_dir),
    )
    return _r6(out, ["intensity", "hue", "saturation"])


def q_ihs_to_rgb(spark, sf_dir):
    """IhsToRgb (image_analysis/ihs_to_rgb.rs:640-681): round-trip through
    RgbToIhs."""
    from whitebox_tools_spark.operators import color as CO

    ihs = CO.rgb_to_ihs(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir),
        _part_raster3(spark, sf_dir),
    )
    return CO.ihs_to_rgb(ihs)


def q_create_composite(spark, sf_dir):
    """CreateColourComposite (image_analysis/create_colour_composite.rs:380-424)."""
    from whitebox_tools_spark.operators import color as CO

    return CO.create_colour_composite(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir),
        _part_raster3(spark, sf_dir),
    )


def q_split_composite(spark, sf_dir):
    """SplitColourComposite: unpack of the packed composite (round-trip)."""
    from whitebox_tools_spark.operators import color as CO

    comp = CO.create_colour_composite(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir),
        _part_raster3(spark, sf_dir),
    )
    return CO.split_colour_composite(comp)


def q_change_vector_analysis(spark, sf_dir):
    """ChangeVectorAnalysis (image_analysis/change_vector_analysis.rs:266-365):
    2-band dates; date2 shifts band 0 up and band 1 down."""
    from whitebox_tools_spark.operators import color as CO

    b0 = _part_raster(spark, sf_dir).withColumn("band", F.lit(0))
    b1 = _part_raster2(spark, sf_dir).withColumn("band", F.lit(1))
    d1 = b0.unionByName(b1)
    d2 = d1.withColumn(
        "value",
        F.when(F.col("band") == 0, F.col("value") + 25.0)
        .otherwise(F.col("value") - 3.0),
    )
    return _r6(CO.change_vector_analysis(d1, d2), ["magnitude", "direction"])


_UDW_KERNEL = [[0.5, -1.0, 0.5], [2.0, 0.25, -2.0], [0.5, 1.0, -0.5]]


def q_user_defined_weights_filter(spark, sf_dir):
    """UserDefinedWeightsFilter (image_analysis/user_defined_weights_filter.rs):
    the generic k x k convolution bank with a custom kernel."""
    from whitebox_tools_spark.operators.focal import conv_filter

    return _r6(conv_filter(_part_raster(spark, sf_dir), _UDW_KERNEL), ["value"])


def q_balance_contrast_enhancement(spark, sf_dir):
    """BalanceContrastEnhancement (image_analysis/
    balance_contrast_enhancement.rs, Liu 1991 parabolic stretch, E=100)."""
    from whitebox_tools_spark.operators import color as CO

    comp = CO.create_colour_composite(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir),
        _part_raster3(spark, sf_dir),
    )
    return CO.balance_contrast_enhancement(comp, band_mean=100.0)


def q_pan_sharpening_brovey(spark, sf_dir):
    """PanchromaticSharpening, Brovey (image_analysis/pan_sharpening.rs)."""
    from whitebox_tools_spark.operators import color as CO

    comp = CO.create_colour_composite(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir),
        _part_raster3(spark, sf_dir),
    )
    return CO.pan_sharpening_brovey(comp, _noise_raster(spark, sf_dir))


def q_fast_almost_gaussian(spark, sf_dir):
    """FastAlmostGaussianFilter (image_analysis/fast_almost_gaussian_filter.rs),
    sigma 2.0 -> five iterated box means."""
    from whitebox_tools_spark.operators.image import fast_almost_gaussian_filter

    return _r6(
        fast_almost_gaussian_filter(_part_raster(spark, sf_dir), sigma=2.0), ["value"]
    )


def q_highpass_bilateral(spark, sf_dir):
    """HighPassBilateralFilter (image_analysis/high_pass_bilateral_filter.rs)."""
    from whitebox_tools_spark.operators.image import highpass_bilateral_filter

    return _r6(
        highpass_bilateral_filter(
            _part_raster(spark, sf_dir), sigma_dist=0.75, sigma_int=50.0
        ),
        ["value"],
    )


def q_mosaic_nn(spark, sf_dir):
    """Mosaic, nearest-image-center variant (image_analysis/mosaic.rs)."""
    from whitebox_tools_spark.operators.image import mosaic_nn

    a = _part_raster(spark, sf_dir)
    b = _part_raster2(spark, sf_dir).withColumn("row", F.col("row") + 100)
    return mosaic_nn([(a, 100.0, 5.0), (b, 200.0, 5.0)])


_MOSAIC_OUT = GridSpec(west=0.0, north=100.0, res_x=4.0, res_y=4.0, rows=25, cols=25)
_MOSAIC_G1 = GridSpec(west=0.0, north=100.0, res_x=5.0, res_y=5.0, rows=20, cols=20)
_MOSAIC_G2 = GridSpec(west=12.5, north=92.5, res_x=5.0, res_y=5.0, rows=20, cols=20)


def _mosaic_imgs(spark):
    """Fixed source images for the resampling mosaics: img2 (priority 0,
    offset grid, nodata holes every 17th cell) over img1 (full cover)."""
    img1 = spark.range(400).select(
        (F.col("id") / 20).cast("long").alias("row"),
        (F.col("id") % 20).alias("col"),
        (((F.col("id") * 48271 + 11) % 1000).cast("double") / 10.0).alias("value"),
    )
    img2 = spark.range(400).select(
        (F.col("id") / 20).cast("long").alias("row"),
        (F.col("id") % 20).alias("col"),
        F.when(F.col("id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(((F.col("id") * 24847 + 3) % 1000).cast("double") / 10.0)
        .alias("value"),
    )
    return img1, img2


def _q_mosaic_resample(method):
    def q(spark, sf_dir):
        from whitebox_tools_spark.operators.image import mosaic_resample

        img1, img2 = _mosaic_imgs(spark)
        return _r6(
            mosaic_resample(
                [(img2, _MOSAIC_G2), (img1, _MOSAIC_G1)], _MOSAIC_OUT,
                method=method,
            ),
            ["value"],
        )

    q.__doc__ = (
        f"Mosaic, {method} resampling (image_analysis/mosaic.rs:516-700): "
        "first-image-wins inverse-squared-stencil-distance gather; exact "
        "grid hits return the source value (deterministic semantics — the "
        "reference's stale-weight/thread-stride quirk is machine-dependent, "
        "see operators/image.py docstring)."
    )
    return q


q_mosaic_bilinear = _q_mosaic_resample("bilinear")
q_mosaic_cc = _q_mosaic_resample("cc")


def _mosaic_resample_sql(method: str) -> str:
    stencil = (
        [(sx, sy) for sy in (0, 1) for sx in (0, 1)]
        if method == "bilinear"
        else [(sx, sy) for sy in (-1, 0, 1, 2) for sx in (-1, 0, 1, 2)]
    )
    offs = ", ".join(f"({sx}, {sy})" for sx, sy in stencil)
    img1 = (
        "SELECT CAST(floor(i / 20) AS BIGINT) AS row, CAST(i % 20 AS BIGINT) AS col, "
        "CAST((i * 48271 + 11) % 1000 AS DOUBLE) / 10.0 AS value FROM range(400) t(i)"
    )
    img2 = (
        "SELECT CAST(floor(i / 20) AS BIGINT) AS row, CAST(i % 20 AS BIGINT) AS col, "
        "CASE WHEN i % 17 = 0 THEN NULL "
        "ELSE CAST((i * 24847 + 3) % 1000 AS DOUBLE) / 10.0 END AS value "
        "FROM range(400) t(i)"
    )

    def cand(idx, img_cte, g):
        cs = f"((c.x - {g.west!r}) / {g.res_x!r})"
        rs = f"(({g.north!r} - c.y) / {g.res_y!r})"
        dx = f"(CAST(s.nc AS DOUBLE) - s.cs)"
        dy = f"(CAST(s.nr AS DOUBLE) - s.rs)"
        exact = f"({dx} = 0.0 AND {dy} = 0.0)"
        w = f"(1.0 / ({dx} * {dx} + {dy} * {dy}))"
        return f"""
  SELECT s.row, s.col, {idx} AS idx,
         max(CASE WHEN {exact} THEN i.value END) AS ev,
         sum(CASE WHEN NOT {exact} THEN i.value * {w} END)
           / sum(CASE WHEN NOT {exact} THEN {w} END) AS wv
  FROM (
    SELECT c.row, c.col, {cs} AS cs, {rs} AS rs,
           CAST(floor({rs}) AS BIGINT) + o.sy AS nr,
           CAST(floor({cs}) AS BIGINT) + o.sx AS nc
    FROM cells c CROSS JOIN offs o
  ) s JOIN {img_cte} i ON i.row = s.nr AND i.col = s.nc AND i.value IS NOT NULL
  GROUP BY s.row, s.col
"""

    og = _MOSAIC_OUT
    return f"""
WITH cells AS (
  SELECT CAST(floor(i / {og.cols}) AS BIGINT) AS row,
         CAST(i % {og.cols} AS BIGINT) AS col,
         {og.x_center_sql(f"CAST(i % {og.cols} AS BIGINT)")} AS x,
         {og.y_center_sql(f"CAST(floor(i / {og.cols}) AS BIGINT)")} AS y
  FROM range({og.rows * og.cols}) t(i)
),
offs(sx, sy) AS (VALUES {offs}),
img0 AS ({img2}), img1 AS ({img1}),
cand0 AS ({cand(0, "img0", _MOSAIC_G2)}),
cand1 AS ({cand(1, "img1", _MOSAIC_G1)})
SELECT row, col, round(arg_min(coalesce(ev, wv), idx), 6) + 0.0 AS value
FROM (SELECT * FROM cand0 UNION ALL SELECT * FROM cand1)
GROUP BY row, col
"""


def q_rho8_pointer(spark, sf_dir):
    """Rho8Pointer (hydro_analysis/rho8_pointer.rs), deterministic minstd
    uniforms (documented deviation: the reference is unseeded)."""
    from whitebox_tools_spark.operators.hydro import rho8_pointer

    return rho8_pointer(_noise_raster(spark, sf_dir), EXTRACT_GRID, seed=7)


def q_direct_decorrelation_stretch(spark, sf_dir):
    """DirectDecorrelationStretch (image_analysis/
    direct_decorrelation_stretch.rs, Liu & Moore 1996), k=0.5, 1% clip."""
    from whitebox_tools_spark.operators import color as CO

    comp = CO.create_colour_composite(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir),
        _part_raster3(spark, sf_dir),
    )
    return CO.direct_decorrelation_stretch(comp, k=0.5, clip_percent=0.01)


def q_image_stack_profile(spark, sf_dir):
    """ImageStackProfile (image_analysis/image_stack_profile.rs): 3-image
    stack sampled at deterministic point cells."""
    from whitebox_tools_spark.operators import color as CO

    pts = _part_raster(spark, sf_dir).filter(
        (F.col("row") * 11 + F.col("col")) % 59 == 0
    ).select((F.col("row") * 1000 + F.col("col")).alias("point_id"), "row", "col")
    return _r6(
        CO.image_stack_profile(
            [_part_raster(spark, sf_dir), _part_raster2(spark, sf_dir),
             _part_raster3(spark, sf_dir)],
            pts,
        ),
        ["value"],
    )


def q_write_function_memory_insertion(spark, sf_dir):
    """WriteFunctionMemoryInsertion (image_analysis/
    write_function_memory_insertion.rs): two-date change composite
    (blue = date 2)."""
    from whitebox_tools_spark.operators import color as CO

    return CO.write_function_memory_insertion(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir)
    )


def _binary_grid(spark):
    """sf-independent 40x40 binary fixture: thick crossing line bands."""
    n = 40
    g = spark.range(n * n).select(
        (F.col("id") / n).cast("long").alias("row"),
        (F.col("id") % n).alias("col"),
    )
    return g.withColumn(
        "value",
        F.when((F.col("row") % 7 < 2) | (F.col("col") % 9 < 2), 1.0).otherwise(0.0),
    )


def _binary_grid_np():
    import numpy as np

    n = 40
    g = np.zeros((n, n))
    for r in range(n):
        for c in range(n):
            if r % 7 < 2 or c % 9 < 2:
                g[r, c] = 1.0
    return g


def _grid_literal_sql(out) -> str:
    rows = []
    n = out.shape[0]
    for r in range(n):
        for c in range(n):
            rows.append(f"({r},{c},{float(out[r, c])!r})")
    return (
        "SELECT CAST(row AS BIGINT) AS row, CAST(col AS BIGINT) AS col, "
        "CAST(value AS DOUBLE) AS value FROM (VALUES "
        + ", ".join(rows) + ") AS t(row, col, value)"
    )


def _thin_oracle_py(g):
    """Independent dict-based transcription of line_thin.rs (separate from
    the engine's binary_morph kernel)."""
    e1 = [[6, 7, 0, 4, 3, 2], [0, 1, 2, 4, 5, 6], [2, 3, 4, 6, 7, 0], [4, 5, 6, 0, 1, 2]]
    e2 = [[7, 0, 1, 3, 5], [1, 2, 3, 5, 7], [3, 4, 5, 7, 1], [5, 6, 7, 1, 3]]
    v1 = [0.0, 0.0, 0.0, 1.0, 1.0, 1.0]
    v2 = [0.0, 0.0, 0.0, 1.0, 1.0]
    dx = [1, 1, 1, 0, -1, -1, -1, 0]
    dy = [-1, 0, 1, 1, 1, 0, -1, -1]
    n = g.shape[0]
    d = {(r, c): g[r, c] for r in range(n) for c in range(n)}
    changed = True
    while changed:
        changed = False
        for a in range(4):
            for r in range(n):
                for c in range(n):
                    if d[(r, c)] > 0.0:
                        nb = [d.get((r + dy[i], c + dx[i]), 0.0) for i in range(8)]
                        m1 = all(nb[e1[a][i]] == v1[i] for i in range(6))
                        m2 = all(nb[e2[a][i]] == v2[i] for i in range(5))
                        if m1 or m2:
                            d[(r, c)] = 0.0
                            changed = True
    import numpy as np

    out = np.zeros_like(g)
    for (r, c), v in d.items():
        out[r, c] = v
    return out


def _spurs_oracle_py(g, max_iterations=10):
    el = [
        [0, 1, 4, 5, 6, 7], [0, 1, 2, 5, 6, 7], [0, 1, 2, 3, 6, 7],
        [0, 1, 2, 3, 4, 7], [0, 1, 2, 3, 4, 5], [1, 2, 3, 4, 5, 6],
        [2, 3, 4, 5, 6, 7], [0, 3, 4, 5, 6, 7],
    ]
    dx = [1, 1, 1, 0, -1, -1, -1, 0]
    dy = [-1, 0, 1, 1, 1, 0, -1, -1]
    n = g.shape[0]
    d = {(r, c): g[r, c] for r in range(n) for c in range(n)}
    for loop_num in range(max_iterations):
        changed = False
        rr = range(n) if loop_num % 2 == 1 else range(n - 1, -1, -1)
        cc = list(range(n)) if loop_num % 2 == 1 else list(range(n - 1, -1, -1))
        for a in range(8):
            for r in rr:
                for c in cc:
                    if d[(r, c)] > 0.0:
                        nb = [d.get((r + dy[i], c + dx[i]), 0.0) for i in range(8)]
                        if all(nb[j] == 0.0 for j in el[a]):
                            d[(r, c)] = 0.0
                            changed = True
        if not changed:
            break
    import numpy as np

    out = np.zeros_like(g)
    for (r, c), v in d.items():
        out[r, c] = v
    return out


def _thicken_oracle_py(g):
    n1 = [(0, -1), (1, 0), (0, 1), (-1, 0)]
    n2 = [(1, -1), (1, 1), (-1, 1), (-1, -1)]
    n3 = [(1, 0), (0, 1), (-1, 0), (0, -1)]
    n = g.shape[0]
    d = {(r, c): g[r, c] for r in range(n) for c in range(n)}
    src = dict(d)
    for r in range(n):
        for c in range(n):
            if src[(r, c)] == 0.0:
                for i in range(4):
                    z1 = d.get((r + n1[i][1], c + n1[i][0]), 0.0)
                    z2 = d.get((r + n2[i][1], c + n2[i][0]), 0.0)
                    z3 = d.get((r + n3[i][1], c + n3[i][0]), 0.0)
                    if z1 > 0.0 and z3 > 0.0 and z2 == 0.0:
                        d[(r, c)] = z1
                        break
    import numpy as np

    out = np.zeros_like(g)
    for (r, c), v in d.items():
        out[r, c] = v
    return out


def q_line_thinning(spark, sf_dir):
    """LineThinning (image_analysis/line_thin.rs): mask-pass skeleton of
    the binary fixture."""
    from whitebox_tools_spark.operators.binary_morph import line_thinning

    return line_thinning(_binary_grid(spark))


def q_remove_spurs(spark, sf_dir):
    """RemoveSpurs (image_analysis/remove_spurs.rs), 10 iterations."""
    from whitebox_tools_spark.operators.binary_morph import remove_spurs

    return remove_spurs(_binary_grid(spark), max_iterations=10)


def q_thicken_raster_line(spark, sf_dir):
    """ThickenRasterLine (image_analysis/thicken_line.rs)."""
    from whitebox_tools_spark.operators.binary_morph import thicken_raster_line

    return thicken_raster_line(_binary_grid(spark))


def q_corner_detection(spark, sf_dir):
    """CornerDetection (image_analysis/corner_detection.rs): hit-and-miss
    corner masks over the binary fixture."""
    from whitebox_tools_spark.operators.binary_morph import corner_detection

    return corner_detection(_binary_grid(spark))


def _corner_sql() -> str:
    from whitebox_tools_spark.operators.binary_morph import corner_detection_oracle_sql

    n = 40
    grid_sql = (
        "SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col, "
        "CASE WHEN r % 7 < 2 OR c % 9 < 2 THEN 1.0 ELSE 0.0 END AS value "
        f"FROM generate_series(0, {n - 1}) t1(r), generate_series(0, {n - 1}) t2(c)"
    )
    return corner_detection_oracle_sql(grid_sql)


def q_bilateral(spark, sf_dir):
    """BilateralFilter (image_analysis/bilateral_filter.rs)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(
        FO.bilateral_filter(_part_raster(spark, sf_dir), sigma_dist=0.75, sigma_int=50.0),
        ["value"],
    )


def q_adaptive_filter(spark, sf_dir):
    """AdaptiveFilter (image_analysis/adaptive_filter.rs)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(
        FO.adaptive_filter(_part_raster(spark, sf_dir), threshold=1.5), ["value"]
    )


def q_lee_filter(spark, sf_dir):
    """LeeSigmaFilter (image_analysis/lee_filter.rs:379-420)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(
        FO.lee_filter(_part_raster(spark, sf_dir), sigma=200.0, min_n=3.0), ["value"]
    )


def q_k_nearest_mean(spark, sf_dir):
    """KNearestMeanFilter (image_analysis/k_nearest_mean_filter.rs)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(
        FO.k_nearest_mean_filter(_part_raster(spark, sf_dir), filterx=5, filtery=5, k=5),
        ["value"],
    )


def q_edge_preserving_mean(spark, sf_dir):
    """EdgePreservingMeanFilter (image_analysis/edge_preserving_mean_filter.rs)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(
        FO.edge_preserving_mean_filter(_part_raster(spark, sf_dir), threshold=300.0),
        ["value"],
    )


def q_highpass_median(spark, sf_dir):
    """HighPassMedianFilter (image_analysis/highpass_median_filter.rs)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(
        FO.highpass_median_filter(_part_raster(spark, sf_dir)), ["value"]
    )


def q_percentile_filter(spark, sf_dir):
    """PercentileFilter (image_analysis/percentile_filter.rs:315-455)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(
        FO.percentile_filter(_part_raster(spark, sf_dir), filterx=5, filtery=5),
        ["value"],
    )


def _q_curv(which):
    def q(spark, sf_dir):
        from whitebox_tools_spark.operators.focal import curvature

        out = curvature(_part_raster(spark, sf_dir), which, res=5.0)
        # + 0.0 canonicalizes IEEE -0.0 (flat cells) on both engines
        return _r6(out, ["value"]).withColumn("value", F.col("value") + F.lit(0.0))

    q.__doc__ = f"{which} curvature (terrain_analysis/*_curvature.rs, Florinsky r/s/t)"
    return q


q_plan_curvature = _q_curv("plan")
q_profile_curvature = _q_curv("profile")
q_tangential_curvature = _q_curv("tangential")
q_total_curvature = _q_curv("total")
q_mean_curvature = _q_curv("mean")
q_gaussian_curvature = _q_curv("gaussian")
q_minimal_curvature = _q_curv("minimal")
q_maximal_curvature = _q_curv("maximal")


def q_clip_points(spark, sf_dir):
    """Clip point case (gis_analysis/clip.rs:299-370)."""
    from whitebox_tools_spark.operators.pip import clip_points

    return clip_points(_cust_points(spark, sf_dir).drop("z"), PARTS, IDX)


def q_erase_points(spark, sf_dir):
    """Erase point case (gis_analysis/erase.rs)."""
    from whitebox_tools_spark.operators.pip import erase_points

    return erase_points(_cust_points(spark, sf_dir).drop("z"), PARTS, IDX)


def q_trend_surface(spark, sf_dir):
    """TrendSurfaceVectorPoints (math_stat_analysis/
    trend_surface_vector_points.rs:159) order 1 over derived points; fitted
    values hash-checked against the DuckDB Cramer-rule oracle."""
    from whitebox_tools_spark.operators.stats import trend_surface

    pts = _cust_points(spark, sf_dir)
    cells = pts.select(
        F.col("point_id").alias("row"), F.lit(0).cast("long").alias("col"),
        F.col("z").alias("value"), "x", "y",
    )
    fitted, _ = trend_surface(cells, EXTRACT_GRID, order=1, x="x", y="y")
    return _r6(fitted, ["value"])


def q_trend_surface_vector_points(spark, sf_dir):
    """TrendSurfaceVectorPoints dedicated output shape (math_stat_analysis/
    trend_surface_vector_points.rs:297-590): order-1 trend fitted to the
    derived customer points, evaluated over the raster spanned by the point
    extent (west=min_x, north=max_y, rows/cols=ceil(extent/cell_size),
    rs:307-310) — not the fitted-at-source-rows shape q_trend_surface pins."""
    from whitebox_tools_spark.operators.stats import trend_surface_vector_points

    pts = _cust_points(spark, sf_dir)
    out = trend_surface_vector_points(
        pts, order=1, cell_size=50.0, x="x", y="y", value="z"
    )
    return _r6(out, ["value"])


def _trend_surface_vector_points_sql() -> str:
    """DuckDB mirror: the same centered Cramer 3x3 solve as
    _trend_surface_sql, evaluated over the extent-derived grid
    (trend_surface_vector_points.rs:307-310 grid, lib.rs:728-741 centers)."""
    x, y = synth.point_sql("c_custkey")
    d = "(n*(sxx*syy - sxy*sxy) - sx*(sx*syy - sxy*sy) + sy*(sx*sxy - sxx*sy))"
    c0 = "(sz*(sxx*syy - sxy*sxy) - sx*(sxz*syy - sxy*syz) + sy*(sxz*sxy - sxx*syz))"
    c1 = "(n*(sxz*syy - sxy*syz) - sz*(sx*syy - sxy*sy) + sy*(sx*syz - sxz*sy))"
    c2 = "(n*(sxx*syz - sxz*sxy) - sx*(sx*syz - sxz*sy) + sz*(sx*sxy - sxx*sy))"
    return f"""
WITH src AS (SELECT {x} AS x, {y} AS y, c_acctbal AS value
             FROM customer WHERE c_acctbal IS NOT NULL),
m AS (SELECT avg(x) AS mx, avg(y) AS my, avg(value) AS mz,
             min(x) AS xmin, max(x) AS xmax,
             min(y) AS ymin, max(y) AS ymax FROM src),
s AS (SELECT count(*) AS n,
             sum(x - mx) AS sx, sum(y - my) AS sy, sum(value - mz) AS sz,
             sum((x - mx)*(x - mx)) AS sxx, sum((x - mx)*(y - my)) AS sxy,
             sum((y - my)*(y - my)) AS syy,
             sum((x - mx)*(value - mz)) AS sxz, sum((y - my)*(value - mz)) AS syz
      FROM src, m),
c AS (SELECT {c0} / {d} AS c0, {c1} / {d} AS c1, {c2} / {d} AS c2 FROM s),
g AS (SELECT xmin AS west, ymax AS north,
             CAST(ceil((ymax - ymin) / 50.0) AS BIGINT) AS nrows,
             CAST(ceil((xmax - xmin) / 50.0) AS BIGINT) AS ncols FROM m),
cells AS (
  SELECT CAST(floor(i / g.ncols) AS BIGINT) AS row,
         CAST(i % g.ncols AS BIGINT) AS col,
         g.west + 25.0 + CAST(i % g.ncols AS DOUBLE) * 50.0 AS xc,
         g.north - 25.0 - CAST(floor(i / g.ncols) AS DOUBLE) * 50.0 AS yc
  FROM range(2000) t(i), g WHERE i < g.nrows * g.ncols
)
SELECT cells.row, cells.col,
       round(m.mz + c.c0 + c.c1*(cells.xc - m.mx) + c.c2*(cells.yc - m.my), 6)
         + 0.0 AS value
FROM cells, m, c
"""


def q_raster_to_polygons(spark, sf_dir):
    """RasterToVectorPolygons (data_tools/raster_to_vector_polygons.rs:131).

    Output: per-feature invariants that a SQL oracle can derive from the
    cell table WITHOUT stitching — boundary segment count (each boundary
    cell edge becomes exactly one ring segment) and net shoelace area of the
    stitched rings (mathematically = clump cell count x cell area). A wrong
    ring topology breaks either invariant; vertex-exact ring geometry is
    additionally pinned by the pytest round-trip."""
    from whitebox_tools_spark.operators.raster_vector import raster_to_vector_polygons

    cells = RM.reclass(
        _part_raster(spark, sf_dir),
        [(1.0, 0.0, 1500.0), (2.0, 1500.0, 99999.0)],
    )
    rings = raster_to_vector_polygons(cells, EXTRACT_GRID)
    seg_sa = F.aggregate(
        F.sequence(F.lit(1), F.size("xs") - 1),
        F.lit(0.0),
        lambda acc, k: acc
        + F.element_at("xs", k) * F.element_at("ys", k + 1)
        - F.element_at("xs", k + 1) * F.element_at("ys", k),
    )
    per_ring = rings.select(
        "fid", "value", (F.size("xs") - 1).alias("n_seg"), seg_sa.alias("sa")
    )
    return per_ring.groupBy("fid").agg(
        F.first("value").alias("value"),
        F.sum("n_seg").cast("long").alias("n_segments"),
        F.round(F.lit(-0.5) * F.sum("sa"), 6).alias("area"),
    )


def _patch_raster(spark, sf_dir):
    """Patch-id raster for the patch-shape tools: clump of the reclassed
    part raster (ids > 0)."""
    from whitebox_tools_spark.operators.raster_vector import clump

    cells = RM.reclass(
        _part_raster(spark, sf_dir),
        [(1.0, 0.0, 1500.0), (2.0, 1500.0, 99999.0)],
    )
    return clump(cells).select("row", "col", F.col("clump_id").cast("double").alias("value"))


def q_shape_complexity_index_raster(spark, sf_dir):
    """ShapeComplexityIndexRaster (gis_analysis/shape_complexity_raster.rs):
    transect run starts / (bbox h + w) per clump patch."""
    from whitebox_tools_spark.operators.raster_vector import (
        shape_complexity_index_raster,
    )

    return _r6(shape_complexity_index_raster(_patch_raster(spark, sf_dir)), ["sci"])


def q_narrowness_index(spark, sf_dir):
    """NarrownessIndex (gis_analysis/narrowness_index.rs): A/(pi*MD^2)
    per clump patch."""
    from whitebox_tools_spark.operators.raster_vector import narrowness_index

    return _r6(narrowness_index(_patch_raster(spark, sf_dir)), ["ni"])


def q_clump(spark, sf_dir):
    """Clump (gis_analysis/clump.rs), 8-connectivity; scan-order ids."""
    from whitebox_tools_spark.operators.raster_vector import clump

    cells = RM.reclass(
        _part_raster(spark, sf_dir),
        [(1.0, 0.0, 1500.0), (2.0, 1500.0, 99999.0)],
    )
    return clump(cells)


def q_modified_kmeans(spark, sf_dir):
    """ModifiedKMeansClustering (image_analysis/
    modified_k_means_clustering.rs): Lloyd with per-iteration merging of
    centres closer than merge_dist (class count only shrinks). Rows-only;
    the merge/assignment contract is pinned against a serial python
    transcription in tests/test_operators.py."""
    from whitebox_tools_spark.operators.ml import modified_kmeans

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", *[F.col("embedding")[i].cast("double").alias(f"f{i}") for i in range(4)]
    )
    out = modified_kmeans(emb, [f"f{i}" for i in range(4)], id_col="vec_id",
                          start_clusters=12, merge_dist=0.2, iters=6)
    return out.select("vec_id", F.col("cluster").cast("long").alias("cluster"))


def q_kmeans(spark, sf_dir):
    """KMeansClustering (image_analysis/k_means_clustering.rs — plain Lloyd
    with fixed iterations): deterministic distributed Lloyd's with
    smallest-k-ids init and rounded-centroid trajectory, hash-checked
    against an unrolled-CTE DuckDB mirror. (Spark ML KMeans remains in
    ml.kmeans_clusters for seeded production use.)"""
    from whitebox_tools_spark.operators.ml import lloyd_kmeans

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", *[F.col("embedding")[i].cast("double").alias(f"f{i}") for i in range(8)]
    )
    out = lloyd_kmeans(emb, [f"f{i}" for i in range(8)], 4, id_col="vec_id", iters=8)
    return out.select("vec_id", F.col("cluster").cast("long").alias("cluster"))


def _pca_fixture(spark) -> DataFrame:
    """Fixed synthetic feature table == serial_oracles.pca_vals(): two
    latent LCG factors mixed per feature + per-feature LCG noise, so the
    correlation matrix has two dominant well-separated eigenvalues."""
    cols = [F.col("id").alias("vec_id")]
    b1 = ((F.col("id") * 48271) % 100000).cast("double") / F.lit(100000.0)
    b2 = ((F.col("id") * 69621 + 12345) % 100000).cast("double") / F.lit(100000.0)
    for i in range(8):
        noise = ((F.col("id") * (179 + 2 * i) + 31 * i) % 1000).cast(
            "double"
        ) / F.lit(10000.0)
        cols.append(
            (F.lit((i + 1) / 8.0) * b1 + F.lit((8 - i) / 8.0) * b2 + noise).alias(
                f"f{i}"
            )
        )
    return spark.range(1, 501).select(*cols)


def q_pca(spark, sf_dir):
    """PrincipalComponentAnalysis (math_stat_analysis/
    principal_component_analysis.rs): correlation-matrix PCA with the
    deterministic contract (descending eigenvalue order, largest-loading
    sign canonicalization) — value-checked against serial_oracles.
    pca_scores_serial, an independent pure-python cyclic-Jacobi
    eigensolver, as a literal VALUES oracle over the fixed fixture."""
    from whitebox_tools_spark.operators.ml import pca_scores_deterministic

    out = pca_scores_deterministic(
        _pca_fixture(spark), [f"f{i}" for i in range(8)], 2, id_col="vec_id"
    )
    return _r6(out, ["pc1", "pc2"])


def _pca_values_sql() -> str:
    """Literal VALUES oracle for q_pca: (vec_id, pc1, pc2) from the serial
    Jacobi solve, rounded 6 dp (+ 0.0 signed-zero normalize)."""
    scores = _so().pca_scores_serial(_so().pca_vals(), 2)
    vals = ", ".join(
        f"({i}, {v[0]!r}, {v[1]!r})" for i, v in sorted(scores.items())
    )
    return (
        "SELECT CAST(i AS BIGINT) AS vec_id, "
        "round(CAST(a AS DOUBLE), 6) + 0.0 AS pc1, "
        "round(CAST(b AS DOUBLE), 6) + 0.0 AS pc2 "
        f"FROM (VALUES {vals}) AS t(i, a, b)"
    )


def _order_cloud(spark, sf_dir):
    """Derived point cloud: orders -> (point_id, x, y, z, classification)."""
    x, y = synth.point_exprs(F.col("o_orderkey"))
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("point_id"), x.alias("x"), y.alias("y"),
        (F.col("o_totalprice") / 1000.0).alias("z"),
        F.when(F.col("o_orderstatus") == "F", 2).otherwise(1).alias("classification"),
    )


def q_lidar_point_stats(spark, sf_dir):
    """LidarPointStats (lidar_analysis/lidar_point_stats.rs): per-cell
    count/min/max/mean z."""
    from whitebox_tools_spark.operators.lidar import point_stats

    out = point_stats(_order_cloud(spark, sf_dir), EXTRACT_GRID)
    return _r6(out, ["min_z", "max_z", "mean_z"])


def q_lidar_thin(spark, sf_dir):
    """LidarThin (lidar_analysis/lidar_thin.rs): lowest point per cell,
    ties by point_id."""
    from whitebox_tools_spark.operators.lidar import lidar_thin

    out = lidar_thin(_order_cloud(spark, sf_dir), EXTRACT_GRID, method="lowest")
    return out.select("point_id", "row", "col", F.round("z", 6).alias("z"))


def q_elevation_slice(spark, sf_dir):
    """LidarElevationSlice (lidar_analysis/lidar_elevation_slice.rs)."""
    from whitebox_tools_spark.operators.lidar import elevation_slice

    out = elevation_slice(_order_cloud(spark, sf_dir), minz=100.0, maxz=200.0)
    return out.select("point_id", F.round("z", 6).alias("z"))


# --- training-data suite ---------------------------------------------------
def q_lidar_ground_filter(spark, sf_dir):
    """LidarGroundPointFilter slope mode
    (lidar_analysis/lidar_ground_point_filter.rs:513-538) on a thinned
    cloud (radius pass + kNN fallback for sparse neighborhoods)."""
    from whitebox_tools_spark.operators.lidar import ground_point_filter

    cloud = _order_cloud(spark, sf_dir).filter(F.col("point_id") % 40 == 0)
    return ground_point_filter(cloud, radius=30.0, slope_threshold=15.0,
                               min_neighbours=4)


def _lidar_ground_sql() -> str:
    import math as _math

    t = _math.tan(_math.radians(15.0))
    cloud = _order_cloud_cte() + " WHERE o_orderkey % 40 = 0"
    return f"""
WITH pts AS ({cloud}),
pr AS (
  SELECT a.point_id AS pid, a.z AS pz, b.point_id AS nid, b.z AS nz,
         (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) AS dsq,
         sqrt((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)) AS d
  FROM pts a CROSS JOIN pts b
),
inr AS (
  SELECT pid, count(*) AS n,
         max(CASE WHEN d > 0 THEN (pz - nz) / d END) AS ms
  FROM pr WHERE d <= 30.0 GROUP BY 1
),
knn AS (
  SELECT pid, max(CASE WHEN d > 0 THEN (pz - nz) / d END) AS ms
  -- rank by SQUARED distance: sqrt can collapse 1-ulp-distinct dsq values
  -- into an exact tie, flipping the tie-break vs the engine's dist_sq rank
  FROM (SELECT pid, pz, nz, d,
               row_number() OVER (PARTITION BY pid ORDER BY dsq, nid) AS rn
        FROM pr) q
  WHERE rn <= 4 GROUP BY 1
)
SELECT i.pid AS point_id,
       CASE WHEN i.n >= 4 THEN coalesce(i.ms, -1e308) > {t!r}
            ELSE coalesce(k.ms, -1e308) > {t!r} END AS is_off_terrain
FROM inr i LEFT JOIN knn k ON k.pid = i.pid
"""
