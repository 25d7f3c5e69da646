"""DuckDB oracle SQL builders and the remaining library-tool queries."""

# Shared flat namespace: each queries/ module layers on its predecessor so
# the package behaves exactly like the original single registry module
# (underscore helpers included — `import *` would drop them).
from whitebox_tools_spark.queries import vector_lidar as _prev

globals().update(
    {k: v for k, v in vars(_prev).items() if not k.startswith("__")}
)
del _prev

# ---------------------------------------------------------------------------
# oracle SQL (DuckDB; views pre-registered for the parquet tables)
# ---------------------------------------------------------------------------
def _pip_sql() -> str:
    x, y = synth.point_sql("c_custkey")
    cte = f"SELECT c_custkey AS point_id, {x} AS x, {y} AS y FROM customer"
    return synth.pip_oracle_sql(cte, POLYS)


def _extract_sql() -> str:
    x, y = synth.point_sql("c_custkey")
    g = EXTRACT_GRID
    return f"""
WITH pts AS (SELECT c_custkey AS point_id, {x} AS x, {y} AS y FROM customer),
cells AS ({_PART_RASTER_SQL})
SELECT p.point_id,
       coalesce(c.value, {g.nodata!r}) AS value1
FROM pts p
LEFT JOIN cells c
  ON c.row = {g.row_sql('p.y')} AND c.col = {g.col_sql('p.x')}
"""


def _zonal_sql() -> str:
    from whitebox_tools_spark.operators.zonal import zonal_statistics_oracle_sql

    inner = zonal_statistics_oracle_sql(_ZONES_SQL, "zone_id", "value")
    return f"""
SELECT zone_id, n, round(total, 6) AS total, round(mean_v, 6) AS mean_v,
       round(min_v, 6) AS min_v, round(max_v, 6) AS max_v,
       round(range_v, 6) AS range_v, round(sd, 6) AS sd, round(median, 6) AS median
FROM ({inner})
"""


def _tile_sql(counts: bool) -> str:
    x, y = synth.point_sql("c_custkey")
    tcol, trow, tile = lidar_tile_sql("x", "y", **TILE)
    base = f"""
WITH pts AS (SELECT c_custkey AS point_id, {x} AS x, {y} AS y FROM customer),
t AS (SELECT point_id, {tcol} AS tile_col, {trow} AS tile_row, {tile} AS tile FROM pts)
"""
    if counts:
        return base + "SELECT tile, count(*) AS n_points FROM t GROUP BY tile"
    return base + "SELECT point_id, tile_col, tile_row, tile FROM t"


def _nn_sql(points_cte: str | None = None) -> str:
    g = NN_GRID
    pts = points_cte or _supp_points_cte()
    return f"""
WITH p AS ({pts}),
g AS (SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col,
             {g.west!r} + (c + 0.5) * {g.res_x!r} AS x,
             {g.north!r} - (r + 0.5) * {g.res_y!r} AS y
      FROM generate_series(0, {g.rows - 1}) t1(r), generate_series(0, {g.cols - 1}) t2(c)),
d AS (SELECT g.row, g.col, p.z,
             row_number() OVER (PARTITION BY g.row, g.col
               ORDER BY (p.px-g.x)*(p.px-g.x)+(p.py-g.y)*(p.py-g.y), p.point_id) AS rn
      FROM g CROSS JOIN p)
SELECT row, col, z AS value FROM d WHERE rn = 1
"""


def _idw_sql(points_cte: str | None = None) -> str:
    g = NN_GRID
    pts = points_cte or _supp_points_cte()
    return f"""
WITH p AS ({pts}),
g AS (SELECT CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col,
             {g.west!r} + (c + 0.5) * {g.res_x!r} AS x,
             {g.north!r} - (r + 0.5) * {g.res_y!r} AS y
      FROM generate_series(0, {g.rows - 1}) t1(r), generate_series(0, {g.cols - 1}) t2(c)),
d AS (SELECT g.row, g.col, p.point_id, p.z,
             sqrt((p.px-g.x)*(p.px-g.x)+(p.py-g.y)*(p.py-g.y)) AS dist,
             row_number() OVER (PARTITION BY g.row, g.col
               ORDER BY (p.px-g.x)*(p.px-g.x)+(p.py-g.y)*(p.py-g.y), p.point_id) AS rn,
             count(*) FILTER (sqrt((p.px-g.x)*(p.px-g.x)+(p.py-g.y)*(p.py-g.y)) <= 100.0)
               OVER (PARTITION BY g.row, g.col) AS n_in_radius
      FROM g CROSS JOIN p),
sel AS (SELECT * FROM d WHERE (n_in_radius >= 4 AND dist <= 100.0)
                           OR (n_in_radius < 4 AND rn <= 4)),
agg AS (SELECT row, col,
               min(CASE WHEN dist = 0 THEN z END) AS zero_z,
               sum(z / pow(dist, 2.0)) AS wz,
               sum(1.0 / pow(dist, 2.0)) AS w
        FROM sel GROUP BY row, col)
SELECT row, col, round(coalesce(zero_z, wz / w), 6) AS value FROM agg
"""


def _poly_to_raster_sql() -> str:
    g = P2R_GRID
    pip = synth.pip_oracle_sql(_grid_centers_cte(g), POLYS)
    return f"""
WITH hits AS ({pip})
SELECT CAST(floor(point_id / {g.cols}.0) AS BIGINT) AS row,
       point_id % {g.cols} AS col,
       CAST(max(poly_id) + 1 AS DOUBLE) AS value
FROM hits GROUP BY point_id
"""


def _block_max_sql() -> str:
    x, y = synth.point_sql("c_custkey")
    g = P2R_GRID
    return f"""
WITH pts AS (SELECT c_custkey AS point_id, {x} AS x, {y} AS y, c_acctbal AS z FROM customer)
SELECT {g.row_sql('y')} AS row, {g.col_sql('x')} AS col, max(z) AS value
FROM pts
WHERE {g.in_grid_sql(g.row_sql('y'), g.col_sql('x'))}
GROUP BY 1, 2
"""




_RECLASS2_SQL = (
    "SELECT row, col, CASE WHEN value >= 0.0 AND value < 1500.0 THEN 1.0 "
    "WHEN value >= 1500.0 AND value < 99999.0 THEN 2.0 ELSE value END AS value "
    f"FROM ({_PART_RASTER_SQL})"
)

def _clump_ctes_for(source_sql: str) -> str:
    """Min-label closure CC (8-connectivity, same-value flood) + dense
    scan-order renumbering over an arbitrary cell source."""
    return f"""
WITH RECURSIVE cells AS MATERIALIZED (
  SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL
),
adj AS MATERIALIZED (
  SELECT a.row AS ur, a.col AS uc, b.row AS vr, b.col AS vc
  FROM cells a JOIN cells b
    ON abs(b.row - a.row) <= 1 AND abs(b.col - a.col) <= 1
   AND NOT (b.row = a.row AND b.col = a.col) AND b.value = a.value
),
r(row, col, label) AS (
  SELECT row, col, row * 2147483648 + col FROM cells
  UNION
  SELECT e.vr, e.vc, r.label
  FROM r JOIN adj e ON e.ur = r.row AND e.uc = r.col
),
lab AS (SELECT r.row, r.col, any_value(c.value) AS value, min(r.label) AS lab
        FROM r JOIN cells c ON c.row = r.row AND c.col = r.col GROUP BY 1, 2),
comp AS (SELECT lab, min(row * 2147483648 + col) AS scan FROM lab GROUP BY 1),
ids AS (SELECT lab, CAST(row_number() OVER (ORDER BY scan) AS BIGINT) AS clump_id FROM comp),
labeled AS (SELECT l.row, l.col, l.value, i.clump_id FROM lab l JOIN ids i ON l.lab = i.lab)
"""


_CLUMP_CTES = f"""
WITH RECURSIVE cells AS MATERIALIZED (
  SELECT row, col, value FROM ({_RECLASS2_SQL}) WHERE value IS NOT NULL
),
adj AS MATERIALIZED (
  -- 8-neighbor same-value adjacency, computed ONCE (the recursion below
  -- then only equi-joins against it; re-evaluating the non-equi join per
  -- iteration is ~100x slower)
  SELECT a.row AS ur, a.col AS uc, b.row AS vr, b.col AS vc
  FROM cells a JOIN cells b
    ON abs(b.row - a.row) <= 1 AND abs(b.col - a.col) <= 1
   AND NOT (b.row = a.row AND b.col = a.col) AND b.value = a.value
),
r(row, col, label) AS (
  SELECT row, col, row * 2147483648 + col FROM cells
  UNION
  SELECT e.vr, e.vc, r.label
  FROM r JOIN adj e ON e.ur = r.row AND e.uc = r.col
),
lab AS (SELECT r.row, r.col, any_value(c.value) AS value, min(r.label) AS lab
        FROM r JOIN cells c ON c.row = r.row AND c.col = r.col GROUP BY 1, 2),
comp AS (SELECT lab, min(row * 2147483648 + col) AS scan FROM lab GROUP BY 1),
ids AS (SELECT lab, CAST(row_number() OVER (ORDER BY scan) AS BIGINT) AS clump_id FROM comp),
labeled AS (SELECT l.row, l.col, l.value, i.clump_id FROM lab l JOIN ids i ON l.lab = i.lab)
"""


def _patch_sql() -> str:
    return _CLUMP_CTES + "SELECT row, col, CAST(clump_id AS DOUBLE) AS value FROM labeled"


def _scir_sql() -> str:
    from whitebox_tools_spark.operators.raster_vector import (
        shape_complexity_index_raster_oracle_sql,
    )

    inner = shape_complexity_index_raster_oracle_sql(_patch_sql())
    return f"SELECT row, col, round(sci, 6) AS sci FROM ({inner}) t"


def _narrowness_sql() -> str:
    from whitebox_tools_spark.operators.raster_vector import narrowness_index_oracle_sql

    inner = narrowness_index_oracle_sql(_patch_sql())
    return f"SELECT row, col, round(ni, 6) AS ni FROM ({inner}) t"


def _clump_sql() -> str:
    """Clump oracle: min-label closure as a recursive CTE (8-connectivity,
    same-value flood) + dense scan-order renumbering — mirrors
    raster_vector.clump exactly."""
    return _CLUMP_CTES + "SELECT row, col, value, clump_id FROM labeled"


def _raster_to_polygons_sql() -> str:
    """RasterToVectorPolygons oracle: the stitched rings' segment count and
    net shoelace area equal the per-clump boundary-edge count and
    n_cells x cell area, both derivable from the cell table alone."""
    g = EXTRACT_GRID
    return _CLUMP_CTES + f""",
dirs(dr, dc) AS (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)),
bnd AS (
  SELECT a.clump_id, count(*) AS n_segments
  FROM labeled a CROSS JOIN dirs d
  LEFT JOIN labeled b ON b.row = a.row + d.dr AND b.col = a.col + d.dc
  WHERE b.row IS NULL OR b.clump_id <> a.clump_id
  GROUP BY 1
),
cnt AS (SELECT clump_id, any_value(value) AS value, count(*) AS n_cells FROM labeled GROUP BY 1)
SELECT c.clump_id AS fid, c.value, CAST(b.n_segments AS BIGINT) AS n_segments,
       round(CAST(c.n_cells AS DOUBLE) * {g.res_x * g.res_y!r}, 6) AS area
FROM cnt c JOIN bnd b USING (clump_id)
"""


def _trend_surface_sql() -> str:
    """Order-1 trend surface: centered normal equations solved by Cramer's
    rule — the same 3x3 system trend_surface() solves with numpy (centered
    basis makes both solves agree to ~1e-12 relative, far under round-6)."""
    x, y = synth.point_sql("c_custkey")
    d = ("(n*(sxx*syy - sxy*sxy) - sx*(sx*syy - sxy*sy) + sy*(sx*sxy - sxx*sy))")
    c0 = ("(sz*(sxx*syy - sxy*sxy) - sx*(sxz*syy - sxy*syz) + sy*(sxz*sxy - sxx*syz))")
    c1 = ("(n*(sxz*syy - sxy*syz) - sz*(sx*syy - sxy*sy) + sy*(sx*syz - sxz*sy))")
    c2 = ("(n*(sxx*syz - sxz*sxy) - sx*(sx*syz - sxz*sy) + sz*(sx*sxy - sxx*sy))")
    return f"""
WITH src AS (SELECT c_custkey AS row, CAST(0 AS BIGINT) AS col,
                    c_acctbal AS value, {x} AS x, {y} AS y FROM customer),
m AS (SELECT avg(x) AS mx, avg(y) AS my, avg(value) AS mz FROM src),
s AS (SELECT count(*) AS n,
             sum(x - mx) AS sx, sum(y - my) AS sy, sum(value - mz) AS sz,
             sum((x - mx)*(x - mx)) AS sxx, sum((x - mx)*(y - my)) AS sxy,
             sum((y - my)*(y - my)) AS syy,
             sum((x - mx)*(value - mz)) AS sxz, sum((y - my)*(value - mz)) AS syz
      FROM src, m),
c AS (SELECT {c0} / {d} AS c0, {c1} / {d} AS c1, {c2} / {d} AS c2 FROM s)
SELECT src.row, src.col,
       round(m.mz + c.c0 + c.c1*(src.x - m.mx) + c.c2*(src.y - m.my), 6) AS value
FROM src, m, c
"""


def _sobel_sql() -> str:
    from whitebox_tools_spark.operators.focal import sobel_oracle_sql

    inner = sobel_oracle_sql(_PART_RASTER_SQL)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _gradient_sql(which: str) -> str:
    from whitebox_tools_spark.operators import focal as FO

    kx, ky = {
        "prewitt": (FO.PREWITT_X, FO.PREWITT_Y),
        "scharr": (FO.SCHARR_X, FO.SCHARR_Y),
    }[which]
    inner = FO.gradient_magnitude_oracle_sql(_PART_RASTER_SQL, kx, ky)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _roberts_sql() -> str:
    from whitebox_tools_spark.operators.focal import roberts_oracle_sql

    inner = roberts_oracle_sql(_PART_RASTER_SQL)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _unsharp_sql() -> str:
    from whitebox_tools_spark.operators.focal import unsharp_oracle_sql

    inner = unsharp_oracle_sql(_PART_RASTER_SQL, sigma=0.8, amount=50.0)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _percentile_filter_sql() -> str:
    from whitebox_tools_spark.operators.focal import percentile_filter_oracle_sql

    inner = percentile_filter_oracle_sql(_PART_RASTER_SQL, filterx=5, filtery=5)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _resample_sql(method: str) -> str:
    from whitebox_tools_spark.operators.image import resample_oracle_sql

    inner = resample_oracle_sql(
        _PART_RASTER_SQL, EXTRACT_GRID, RESAMPLE_DST, method=method
    )
    if method == "nn":
        return inner
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _gauss_stretch_sql() -> str:
    from whitebox_tools_spark.operators.image import gaussian_stretch_oracle_sql

    inner = gaussian_stretch_oracle_sql(_PART_RASTER_SQL)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _vignetting_sql() -> str:
    from whitebox_tools_spark.operators.image import correct_vignetting_oracle_sql

    inner = correct_vignetting_oracle_sql(
        _PART_RASTER_SQL, pp_row=100.0, pp_col=5.0, cols=10
    )
    return f"SELECT row, col, round(value, 4) AS value FROM ({inner}) t"


def _mosaic_feather_sql() -> str:
    from whitebox_tools_spark.operators.image import mosaic_feathering_oracle_sql

    b = (
        f"SELECT row + 3 AS row, col + 2 AS col, value FROM ({_PART_RASTER2_SQL}) t"
    )
    inner = mosaic_feathering_oracle_sql(_PART_RASTER_SQL, b)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _hist_match_sql() -> str:
    from whitebox_tools_spark.operators.image import histogram_matching_oracle_sql

    inner = histogram_matching_oracle_sql(_PART_RASTER_SQL, _PART_RASTER2_SQL)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _sve_sql() -> str:
    from whitebox_tools_spark.operators.terrain import slope_vs_elevation_oracle_sql

    inner = slope_vs_elevation_oracle_sql(_VALLEY_DEM_SQL, STREAM_GRID)
    return (
        "SELECT bin, round(elev, 6) AS elev, round(mean_slope, 6) AS mean_slope, n "
        f"FROM ({inner}) t"
    )


def _sar_sql() -> str:
    from whitebox_tools_spark.operators.terrain import surface_area_ratio_oracle_sql

    inner = surface_area_ratio_oracle_sql(_PART_RASTER_SQL, res_x=5.0, res_y=5.0)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _rtp_sql() -> str:
    from whitebox_tools_spark.operators.terrain import rtp_oracle_sql

    return rtp_oracle_sql(_PART_RASTER_SQL, filterx=5, filtery=5)


def _contours_sql() -> str:
    from whitebox_tools_spark.operators.terrain import contour_segments_oracle_sql

    return contour_segments_oracle_sql(
        _PART_RASTER_SQL, EXTRACT_GRID, interval=1.0, base=0.0
    )


def _contour_polylines_sql() -> str:
    """Stitch invariants from the segment multiset: per height, segment
    count + open-chain count = (odd-degree crack vertices) / 2 (interior
    crack corners always have even degree — see q_contour_polylines)."""
    seg = _contours_sql()
    return f"""
WITH seg AS ({seg}),
verts AS (
  SELECT height, x1 AS x, y1 AS y FROM seg
  UNION ALL
  SELECT height, x2 AS x, y2 AS y FROM seg
),
deg AS (SELECT height, x, y, count(*) AS d FROM verts GROUP BY 1, 2, 3),
odd AS (
  SELECT height, count(*) // 2 AS n_open FROM deg WHERE d % 2 = 1 GROUP BY height
)
SELECT s.height, s.n_segments, CAST(coalesce(o.n_open, 0) AS BIGINT) AS n_open
FROM (SELECT height, count(*) AS n_segments FROM seg GROUP BY height) s
LEFT JOIN odd o ON o.height = s.height
"""


def _valleys_lq_sql() -> str:
    from whitebox_tools_spark.operators.terrain import extract_valleys_lq_oracle_sql

    return extract_valleys_lq_oracle_sql(_PART_RASTER_SQL)


def _valleys_sql(variant: str) -> str:
    from whitebox_tools_spark.operators.terrain import extract_valleys_oracle_sql

    return extract_valleys_oracle_sql(_PART_RASTER_SQL, variant=variant)


def _mass_flux_sql() -> str:
    from whitebox_tools_spark.operators import hydro as _h

    loading = (
        f"SELECT row, col, 1.0 + value / 100.0 AS value FROM ({_VALLEY_DEM_SQL}) t"
    )
    eff = (
        f"SELECT row, col, 0.9 - CAST(row % 3 AS DOUBLE) * 0.1 AS value "
        f"FROM ({_VALLEY_DEM_SQL}) t"
    )
    ab = f"SELECT row, col, 0.05 AS value FROM ({_VALLEY_DEM_SQL}) t"
    inner = _h.d8_mass_flux_oracle_sql(_VALLEY_DEM_SQL, STREAM_GRID, loading, eff, ab)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _geomorphons_sql() -> str:
    from whitebox_tools_spark.operators.terrain import geomorphons_oracle_sql

    return geomorphons_oracle_sql(_PART_RASTER_SQL, res=5.0, search_cells=8)


def _max_elev_dev_sql() -> str:
    from whitebox_tools_spark.operators.focal import max_elev_deviation_oracle_sql

    inner = max_elev_deviation_oracle_sql(_PART_RASTER_SQL)
    return (
        f"SELECT row, col, round(magnitude, 6) + 0.0 AS magnitude, scale "
        f"FROM ({inner}) t"
    )


def _pennock_sql() -> str:
    from whitebox_tools_spark.operators.terrain import pennock_oracle_sql

    return pennock_oracle_sql(_PART_RASTER_SQL, res=5.0)


def _cva_aspect_sql() -> str:
    from whitebox_tools_spark.operators.terrain import circular_variance_oracle_sql

    inner = circular_variance_oracle_sql(_PART_RASTER_SQL, res=5.0, filterx=5, filtery=5)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _slope_cte_sql() -> str:
    from whitebox_tools_spark.operators.focal import slope_oracle_sql

    return slope_oracle_sql(_PART_RASTER_SQL, res=5.0)


def _terrain_zip_sql(which: str) -> str:
    from whitebox_tools_spark.operators import terrain as TE

    slope_sql = _slope_cte_sql()
    if which == "wetness":
        inner = TE.wetness_index_oracle_sql(_PART_RASTER_SQL, slope_sql)
    elif which == "spi":
        inner = TE.stream_power_oracle_sql(_PART_RASTER_SQL, slope_sql, exponent=1.1)
    else:
        inner = TE.sediment_transport_oracle_sql(_PART_RASTER_SQL, slope_sql)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _num_nbrs_sql(direction: str) -> str:
    from whitebox_tools_spark.operators import terrain as TE

    return TE.num_neighbours_oracle_sql(_PART_RASTER_SQL, direction=direction)


def _elev_change_sql(mode: str) -> str:
    from whitebox_tools_spark.operators import terrain as TE

    inner = TE.elev_change_oracle_sql(_PART_RASTER_SQL, res=5.0, mode=mode)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _multi_hs_sql() -> str:
    from whitebox_tools_spark.operators.focal import (
        multidirectional_hillshade_oracle_sql,
    )

    return multidirectional_hillshade_oracle_sql(_PART_RASTER_SQL, res=5.0)


def _stdev_slope_sql() -> str:
    from whitebox_tools_spark.operators.focal import stat_filter_oracle_sql

    inner = stat_filter_oracle_sql(_slope_cte_sql(), "sd")
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _fld_sql() -> str:
    from whitebox_tools_spark.operators import hydro as _h
    from whitebox_tools_spark.operators import streams as _s

    inner = _h.flow_length_diff_oracle_sql(
        _s.flowpath_length_oracle_sql(_VALLEY_DEM_SQL, STREAM_GRID)
    )
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _pts_to_raster_sql() -> str:
    from whitebox_tools_spark.operators.raster_vector import points_to_raster_oracle_sql

    inner = points_to_raster_oracle_sql(
        _cust_points_cte(""), NN_GRID, field="z", assign="mean"
    )
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _anova_sql() -> str:
    return f"""
WITH src AS (SELECT zone_id, value FROM ({_ZONES_SQL})
             WHERE value IS NOT NULL AND zone_id IS NOT NULL),
per AS (SELECT zone_id, CAST(count(*) AS DOUBLE) AS cn, sum(value) AS cs,
               sum(value * value) AS css FROM src GROUP BY 1),
g AS (SELECT CAST(count(*) AS DOUBLE) AS k, sum(cn) AS n, sum(cs) AS s,
             sum(css) AS ss, sum(cs * cs / cn) AS sb FROM per)
SELECT CAST(k AS BIGINT) AS num_classes, CAST(n AS BIGINT) AS n,
       round(sb - s * s / n, 6) AS ss_between,
       CAST(k - 1 AS BIGINT) AS df_between,
       round((sb - s * s / n) / (k - 1), 6) AS ms_between,
       round(ss - sb, 6) AS ss_within,
       CAST(n - k AS BIGINT) AS df_within,
       round((ss - sb) / (n - k), 6) AS ms_within,
       round(((sb - s * s / n) / (k - 1)) / ((ss - sb) / (n - k)), 6) AS f_stat
FROM g
"""


def _paired_t_sql() -> str:
    return f"""
WITH a AS ({_PART_RASTER_SQL}), b AS ({_PART_RASTER2_SQL}),
d AS (SELECT a.value - b.value AS d
      FROM a JOIN b ON a.row = b.row AND a.col = b.col
      WHERE a.value IS NOT NULL AND b.value IS NOT NULL),
g AS (SELECT count(*) AS n, avg(d) AS md, stddev_samp(d) AS sd FROM d)
SELECT n, round(md, 6) AS mean_diff, round(sd, 6) AS sd_diff,
       round(md / (sd / sqrt(CAST(n AS DOUBLE))), 6) AS t_stat
FROM g
"""


def _wilcoxon_sql() -> str:
    from whitebox_tools_spark.operators.stats import _erfc_sql

    return f"""
WITH a AS ({_PART_RASTER_SQL}), b AS ({_PART_RASTER2_SQL}),
d AS (SELECT a.value - b.value AS d
      FROM a JOIN b ON a.row = b.row AND a.col = b.col
      WHERE a.value IS NOT NULL AND b.value IS NOT NULL
        AND a.value - b.value <> 0.0),
per AS (SELECT abs(d) AS ad, CAST(count(*) AS DOUBLE) AS cnt,
               CAST(sum(sign(d)) AS DOUBLE) AS net,
               sum(CASE WHEN d > 0 THEN 1.0 ELSE 0.0 END) AS pos,
               sum(CASE WHEN d < 0 THEN 1.0 ELSE 0.0 END) AS neg
        FROM d GROUP BY 1),
cum AS (SELECT *, sum(cnt) OVER (ORDER BY ad) AS cum_cnt FROM per),
agg AS (SELECT sum(net * (cum_cnt - (cnt - 1.0) / 2.0)) AS w,
               sum(pos * (cum_cnt - (cnt - 1.0) / 2.0)) AS w_plus,
               sum(neg * (cum_cnt - (cnt - 1.0) / 2.0)) AS w_neg,
               sum(cnt) AS nr FROM cum),
zs AS (SELECT nr, w_plus, w_neg,
              w / sqrt(nr * (nr + 1.0) * (2.0 * nr + 1.0) / 6.0) AS z FROM agg)
SELECT CAST(nr AS BIGINT) AS nr, round(w_plus, 6) AS w_plus,
       round(w_neg, 6) AS w_minus, round(z, 6) AS z_value,
       round({_erfc_sql("abs(z) / sqrt(2.0)")}, 6) AS p_value
FROM zs
"""


def _ks_normality_sql() -> str:
    return f"""
WITH src AS (SELECT value FROM ({_PART_RASTER_SQL}) WHERE value IS NOT NULL),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(value) AS mu,
              stddev_samp(value) AS sd, min(value) AS mn, max(value) AS mx
       FROM src),
hist AS (SELECT least(CAST(floor((value - st.mn) / ((st.mx - st.mn) / 10000.0)) AS BIGINT),
                      9999) AS bin,
                CAST(count(*) AS DOUBLE) AS h
         FROM src, st GROUP BY 1),
dense AS (SELECT b.bin, coalesce(h.h, 0.0) AS h,
                 st.mn + b.bin * ((st.mx - st.mn) / 10000.0) AS z, st.n, st.mu, st.sd
          FROM generate_series(0, 9999) b(bin)
          LEFT JOIN hist h ON h.bin = b.bin CROSS JOIN st),
cum AS (SELECT bin,
               sum(h) OVER (ORDER BY bin) / any_value(n) OVER () AS ecdf,
               sum(1.0 / (sd * sqrt(2.0 * pi()))
                   * exp(-(z - mu) * (z - mu) / (2.0 * sd * sd)))
                 OVER (ORDER BY bin) AS npcum
        FROM dense),
tot AS (SELECT max(npcum) AS last FROM cum),
dm AS (SELECT max(abs(ecdf - CASE WHEN bin = 0 THEN npcum ELSE npcum / tot.last END)) AS dmax
       FROM cum, tot)
SELECT CAST(st.n AS BIGINT) AS n, round(dm.dmax, 6) AS dmax,
       round(2.0 * exp(-(2.000071 + 0.331 / sqrt(st.n) + 1.409 / st.n)
                       * st.n * dm.dmax * dm.dmax), 6) AS p_value
FROM st, dm
"""


def _rgb_ihs_sql() -> str:
    from whitebox_tools_spark.operators.color import rgb_to_ihs_oracle_sql

    inner = rgb_to_ihs_oracle_sql(
        _PART_RASTER_SQL, _PART_RASTER2_SQL, _PART_RASTER3_SQL
    )
    return (
        f"SELECT row, col, round(intensity, 6) AS intensity, round(hue, 6) AS hue, "
        f"round(saturation, 6) AS saturation FROM ({inner}) t"
    )


def _ihs_rgb_sql() -> str:
    from whitebox_tools_spark.operators.color import (
        ihs_to_rgb_oracle_sql,
        rgb_to_ihs_oracle_sql,
    )

    ihs = rgb_to_ihs_oracle_sql(_PART_RASTER_SQL, _PART_RASTER2_SQL, _PART_RASTER3_SQL)
    return ihs_to_rgb_oracle_sql(ihs)


def _bce_sql() -> str:
    from whitebox_tools_spark.operators.color import bce_oracle_sql, composite_oracle_sql

    comp = composite_oracle_sql(_PART_RASTER_SQL, _PART_RASTER2_SQL, _PART_RASTER3_SQL)
    return bce_oracle_sql(comp, band_mean=100.0)


def _pan_sharp_sql() -> str:
    from whitebox_tools_spark.operators.color import (
        composite_oracle_sql,
        pan_sharpening_brovey_oracle_sql,
    )

    comp = composite_oracle_sql(_PART_RASTER_SQL, _PART_RASTER2_SQL, _PART_RASTER3_SQL)
    return pan_sharpening_brovey_oracle_sql(comp, _NOISE_RASTER_SQL)


def _mosaic_nn_sql() -> str:
    return f"""
WITH a AS (SELECT row, col, value FROM ({_PART_RASTER_SQL}) WHERE value IS NOT NULL),
b AS (SELECT row + 100 AS row, col, value FROM ({_PART_RASTER2_SQL}) WHERE value IS NOT NULL),
u AS (
  SELECT row, col, struct_pack(
           d2 := (row - 100.0) * (row - 100.0) + (col - 5.0) * (col - 5.0),
           idx := 0, v := value) AS w
  FROM a
  UNION ALL
  SELECT row, col, struct_pack(
           d2 := (row - 200.0) * (row - 200.0) + (col - 5.0) * (col - 5.0),
           idx := 1, v := value) AS w
  FROM b
)
SELECT row, col, (min(w)).v AS value FROM u GROUP BY row, col
"""


def _dds_sql() -> str:
    from whitebox_tools_spark.operators.color import composite_oracle_sql, dds_oracle_sql

    comp = composite_oracle_sql(_PART_RASTER_SQL, _PART_RASTER2_SQL, _PART_RASTER3_SQL)
    return dds_oracle_sql(comp, k=0.5, clip_percent=0.01)


def _wfmi_sql() -> str:
    from whitebox_tools_spark.operators.color import composite_oracle_sql

    return composite_oracle_sql(_PART_RASTER_SQL, _PART_RASTER2_SQL, _PART_RASTER2_SQL)


def _composite_sql() -> str:
    from whitebox_tools_spark.operators.color import composite_oracle_sql

    return composite_oracle_sql(_PART_RASTER_SQL, _PART_RASTER2_SQL, _PART_RASTER3_SQL)


def _split_composite_sql() -> str:
    from whitebox_tools_spark.operators.color import (
        composite_oracle_sql,
        split_composite_oracle_sql,
    )

    comp = composite_oracle_sql(_PART_RASTER_SQL, _PART_RASTER2_SQL, _PART_RASTER3_SQL)
    return split_composite_oracle_sql(comp)


def _cva_sql() -> str:
    from whitebox_tools_spark.operators.color import cva_oracle_sql

    d1 = (
        f"SELECT 0 AS band, row, col, value FROM ({_PART_RASTER_SQL}) "
        f"UNION ALL SELECT 1 AS band, row, col, value FROM ({_PART_RASTER2_SQL})"
    )
    d2 = (
        f"SELECT band, row, col, "
        f"CASE WHEN band = 0 THEN value + 25.0 ELSE value - 3.0 END AS value "
        f"FROM ({d1}) t"
    )
    inner = cva_oracle_sql(d1, d2)
    return (
        f"SELECT row, col, round(magnitude, 6) AS magnitude, "
        f"round(direction, 6) AS direction FROM ({inner}) t"
    )


def _weighted_focal_sql(which: str) -> str:
    from whitebox_tools_spark.operators import focal as FO

    inner = {
        "bilateral": lambda: FO.bilateral_oracle_sql(
            _PART_RASTER_SQL, sigma_dist=0.75, sigma_int=50.0
        ),
        "adaptive": lambda: FO.adaptive_oracle_sql(_PART_RASTER_SQL, threshold=1.5),
        "lee": lambda: FO.lee_oracle_sql(_PART_RASTER_SQL, sigma=200.0, min_n=3.0),
        "knm": lambda: FO.k_nearest_mean_oracle_sql(
            _PART_RASTER_SQL, filterx=5, filtery=5, k=5
        ),
        "epm": lambda: FO.edge_preserving_mean_oracle_sql(
            _PART_RASTER_SQL, threshold=300.0
        ),
        "hpm": lambda: FO.highpass_median_oracle_sql(_PART_RASTER_SQL),
    }[which]()
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _stdev_stretch_sql() -> str:
    from whitebox_tools_spark.operators.image import stdev_stretch_oracle_sql

    return stdev_stretch_oracle_sql(_PART_RASTER_SQL, clip_stdev=1.5)


def _percentage_stretch_sql() -> str:
    from whitebox_tools_spark.operators.image import percentage_stretch_oracle_sql

    return percentage_stretch_oracle_sql(_PART_RASTER_SQL, clip=2.0)


def _sigmoidal_stretch_sql() -> str:
    from whitebox_tools_spark.operators.image import sigmoidal_stretch_oracle_sql

    return sigmoidal_stretch_oracle_sql(_PART_RASTER_SQL, cutoff=0.4, gain=2.0)


def _rescale_sql() -> str:
    from whitebox_tools_spark.operators.image import rescale_oracle_sql

    inner = rescale_oracle_sql(
        _PART_RASTER_SQL, out_min=0.0, out_max=100.0, clip_min=950.0, clip_max=1950.0
    )
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _integral_sql() -> str:
    from whitebox_tools_spark.operators.image import integral_image_oracle_sql

    inner = integral_image_oracle_sql(_PART_RASTER_SQL)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _conv_sql(kernel_name: str) -> str:
    from whitebox_tools_spark.operators.focal import conv_filter_oracle_sql

    inner = conv_filter_oracle_sql(_PART_RASTER_SQL, _CONV_KERNELS[kernel_name])
    return f"SELECT row, col, round(value, 6) + 0.0 AS value FROM ({inner}) t"


def _curvature_sql(which: str) -> str:
    from whitebox_tools_spark.operators.focal import curvature_oracle_sql

    inner = curvature_oracle_sql(_PART_RASTER_SQL, which, res=5.0)
    return f"SELECT row, col, round(value, 6) + 0.0 AS value FROM ({inner}) t"


def _focal_sql(which: str) -> str:
    from whitebox_tools_spark.operators import focal as FO

    if which == "slope":
        gather = FO._gather25_sql(_PART_RASTER_SQL)
        pq = FO._pq_select_sql(5.0)
        return (
            gather
            + f", pq AS ({pq}) SELECT row, col, round(p, 9) AS p, round(q, 9) AS q, "
            + f"round({FO.SLOPE_FORMULAS['degrees']}, 3) AS value FROM pq"
        )
    if which == "aspect":
        inner = FO.aspect_oracle_sql(_PART_RASTER_SQL, res=5.0)
        return f"SELECT row, col, round(value, 3) AS value FROM ({inner})"
    if which == "hillshade":
        return FO.hillshade_oracle_sql(_PART_RASTER_SQL, res=5.0)
    inner = FO.mean_filter_oracle_sql(_PART_RASTER_SQL)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner})"


def _order_cloud_cte() -> str:
    x, y = synth.point_sql("o_orderkey")
    return (
        f"SELECT o_orderkey AS point_id, {x} AS x, {y} AS y, "
        f"o_totalprice / 1000.0 AS z, "
        f"CASE WHEN o_orderstatus = 'F' THEN 2 ELSE 1 END AS classification "
        f"FROM orders"
    )


def _zlidar_cloud(spark, sf_dir):
    """zLidar fixture: the order cloud at exactly 3 decimals (so the LAS/
    zLidar 0.001 quantization is lossless to 6 dp) + intensity crossing
    the u8/u16 split, multi-return context variety, class runs."""
    c = _order_cloud(spark, sf_dir)
    nr = (F.col("point_id") % 5) + 1
    return c.select(
        "point_id", "x", "y",
        (F.floor(F.col("z") * 1000.0 + 0.5) / 1000.0).alias("z"),
        (F.col("point_id") % 900).cast("int").alias("intensity"),
        ((F.col("point_id") % nr) + 1).cast("int").alias("return_number"),
        nr.cast("int").alias("number_of_returns"),
        F.col("classification").cast("int").alias("classification"),
    )


_ZLIDAR_CLOUD_SQL_BODY = (
    "SELECT point_id, x, y, floor(z * 1000.0 + 0.5) / 1000.0 AS z, "
    "CAST(point_id % 900 AS INT) AS intensity, "
    "CAST(point_id % (point_id % 5 + 1) + 1 AS INT) AS return_number, "
    "CAST(point_id % 5 + 1 AS INT) AS number_of_returns, "
    "CAST(classification AS INT) AS classification"
)


def q_las_to_zlidar(spark, sf_dir):
    """LasToZlidar (lidar_analysis/las_to_zlidar.rs): LAS 1.2 file ->
    zLidar v1.1 (DEFLATE), then the distributed zLidar reader; output =
    the decoded cloud (coordinates re-derived through both quantizers)."""
    import tempfile

    from whitebox_tools_spark.lidar_io import write_las
    from whitebox_tools_spark.zlidar_io import las_to_zlidar, read_zlidar

    d = tempfile.mkdtemp()
    write_las(_zlidar_cloud(spark, sf_dir), f"{d}/a.las")
    las_to_zlidar(f"{d}/a.las", f"{d}/a.zlidar")
    out = read_zlidar(spark, f"{d}/a.zlidar")
    return out.select(
        F.round("x", 6).alias("x"), F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"), "intensity",
        "return_number", "number_of_returns", "classification",
    )


def q_zlidar_to_las(spark, sf_dir):
    """ZlidarToLas (lidar_analysis/zlidar_to_las.rs): the full
    LAS -> zLidar -> LAS chain read back with the distributed LAS reader
    (LAS format 0 clips returns at 7, preserved end-to-end: fixture
    returns stay <= 5)."""
    import tempfile

    from whitebox_tools_spark.lidar_io import read_las, write_las
    from whitebox_tools_spark.zlidar_io import las_to_zlidar, zlidar_to_las

    d = tempfile.mkdtemp()
    write_las(_zlidar_cloud(spark, sf_dir), f"{d}/a.las")
    las_to_zlidar(f"{d}/a.las", f"{d}/a.zlidar")
    zlidar_to_las(f"{d}/a.zlidar", f"{d}/b.las")
    out = read_las(spark, f"{d}/b.las")
    return out.select(
        F.round("x", 6).alias("x"), F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"), "intensity",
        "return_number", "number_of_returns", "classification",
    )


def q_height_above_ground(spark, sf_dir):
    """HeightAboveGround (lidar_analysis/height_above_ground.rs) /
    normalize_lidar plugin: z -> height above the nearest ground-classified
    point (exact kNN join; subsampled cloud keeps the oracle's cross join
    tractable)."""
    from whitebox_tools_spark.operators.lidar import height_above_ground

    cloud = _order_cloud(spark, sf_dir).filter(F.col("point_id") % 10 == 0)
    return _r6(height_above_ground(cloud, IDX), ["x", "y", "z"])


def _cloud_ext(spark, sf_dir):
    """Order cloud + derived scan_angle / point_source_id columns."""
    return _order_cloud(spark, sf_dir).withColumn(
        "scan_angle", (F.col("point_id") % 31 - 15).cast("int")
    ).withColumn("point_source_id", (F.col("point_id") % 5).cast("int"))


_CLOUD_EXT_SQL_SUFFIX = (
    ", CAST(point_id % 31 - 15 AS INT) AS scan_angle, "
    "CAST(point_id % 5 AS INT) AS point_source_id"
)


def _cloud_ext_cte() -> str:
    inner = _order_cloud_cte()
    return f"SELECT t.*{_CLOUD_EXT_SQL_SUFFIX} FROM ({inner}) t"


def q_filter_lidar_scan_angles(spark, sf_dir):
    """FilterLidarScanAngles (lidar_analysis/filter_lidar_scan_angles.rs),
    threshold 10."""
    from whitebox_tools_spark.operators.lidar import filter_scan_angles

    return _r6(
        filter_scan_angles(_cloud_ext(spark, sf_dir), threshold=10.0),
        ["x", "y", "z"],
    )


def q_flightline_overlap(spark, sf_dir):
    """FlightlineOverlap (lidar_analysis/flightline_overlap.rs): distinct
    point-source count per NN_GRID cell."""
    from whitebox_tools_spark.operators.lidar import flightline_overlap

    return flightline_overlap(_cloud_ext(spark, sf_dir), NN_GRID)


def q_classify_overlap_points(spark, sf_dir):
    """ClassifyOverlapPoints (lidar_analysis/classify_overlap_points.rs):
    class 12 where the cell holds > 1 flightline."""
    from whitebox_tools_spark.operators.lidar import classify_overlap_points

    out = classify_overlap_points(_cloud_ext(spark, sf_dir), NN_GRID)
    return _r6(out.select("point_id", "x", "y", "z", "classification"), ["x", "y", "z"])


def q_lidar_colourize(spark, sf_dir):
    """LidarColourize (lidar_analysis/lidar_colourize.rs): RGB from the
    packed composite at each point's EXTRACT_GRID cell (points off the
    image drop, per the reference's coverage requirement)."""
    from whitebox_tools_spark.operators import color as CO
    from whitebox_tools_spark.operators.lidar import lidar_colourize

    comp = CO.create_colour_composite(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir),
        _part_raster3(spark, sf_dir),
    )
    out = lidar_colourize(_order_cloud(spark, sf_dir), comp, EXTRACT_GRID)
    return _r6(
        out.select("point_id", "x", "y", "z", "red", "green", "blue"),
        ["x", "y", "z"],
    )


def q_lidar_histogram(spark, sf_dir):
    """LidarHistogram (lidar_analysis/lidar_histogram.rs), z, 20 bins."""
    from whitebox_tools_spark.operators.lidar import lidar_histogram

    return _r6(lidar_histogram(_order_cloud(spark, sf_dir), bins=20), ["lo", "hi"])


def q_lidar_kappa_index(spark, sf_dir):
    """LidarKappaIndex (lidar_analysis/lidar_kappa.rs): Cohen's kappa of
    the cloud vs a deterministically perturbed reclassification."""
    from whitebox_tools_spark.operators.lidar import lidar_kappa_index

    a = _order_cloud(spark, sf_dir)
    b = a.withColumn(
        "classification",
        F.when(F.col("point_id") % 7 == 0, F.lit(1)).otherwise(F.col("classification")),
    )
    return _r6(lidar_kappa_index(a, b), ["kappa", "overall_accuracy"])


def q_clip_lidar_to_polygon(spark, sf_dir):
    """ClipLidarToPolygon (lidar_analysis/clip_lidar_to_polygon.rs)."""
    from whitebox_tools_spark.operators.pip import clip_lidar_to_polygon

    return _r6(
        clip_lidar_to_polygon(_order_cloud(spark, sf_dir), PARTS, IDX),
        ["x", "y", "z"],
    )


def q_erase_polygon_from_lidar(spark, sf_dir):
    """ErasePolygonFromLidar (lidar_analysis/erase_polygon_from_lidar.rs)."""
    from whitebox_tools_spark.operators.pip import clip_lidar_to_polygon

    return _r6(
        clip_lidar_to_polygon(_order_cloud(spark, sf_dir), PARTS, IDX, erase=True),
        ["x", "y", "z"],
    )


def q_clip_raster_to_polygon(spark, sf_dir):
    """ClipRasterToPolygon (gis_analysis/clip_raster_to_polygon.rs):
    noise raster clipped to the lake polygons (cell-center PIP)."""
    from whitebox_tools_spark.operators.extract import clip_raster_to_polygon

    return _r6(
        clip_raster_to_polygon(
            _noise_raster(spark, sf_dir), EXTRACT_GRID, _LAKES, IDX
        ),
        ["value"],
    )


def q_erase_polygon_from_raster(spark, sf_dir):
    """ErasePolygonFromRaster (gis_analysis/erase_polygon_from_raster.rs)."""
    from whitebox_tools_spark.operators.extract import clip_raster_to_polygon

    return _r6(
        clip_raster_to_polygon(
            _noise_raster(spark, sf_dir), EXTRACT_GRID, _LAKES, IDX, erase=True
        ),
        ["value"],
    )


def q_select_tiles_by_polygon(spark, sf_dir):
    """SelectTilesByPolygon (lidar_analysis/select_tiles_by_polygon.rs):
    keep 125-unit tiles whose center lies in a synth polygon."""
    from whitebox_tools_spark.operators.pip import select_tiles_by_polygon

    tiles = spark.range(64).select(
        F.col("id").alias("tile"),
        (F.lit(62.5) + (F.col("id") % 8) * 125.0).alias("cx"),
        (F.lit(62.5) + (F.col("id") / 8).cast("long") * 125.0).alias("cy"),
    )
    return select_tiles_by_polygon(tiles, PARTS, IDX).select(
        "tile", F.round("cx", 6).alias("cx"), F.round("cy", 6).alias("cy")
    )


def _flightline_overlap_sql() -> str:
    g = NN_GRID
    return f"""
WITH pts AS ({_cloud_ext_cte()}),
k AS (SELECT {g.row_sql('y')} AS row, {g.col_sql('x')} AS col, point_source_id FROM pts)
SELECT row, col, CAST(count(DISTINCT point_source_id) AS DOUBLE) AS value
FROM k WHERE {g.in_grid_sql('row', 'col')}
GROUP BY row, col
"""


def _classify_overlap_sql() -> str:
    g = NN_GRID
    return f"""
WITH pts AS ({_cloud_ext_cte()}),
k AS (SELECT pts.*, {g.row_sql('y')} AS grow, {g.col_sql('x')} AS gcol FROM pts),
ov AS (
  SELECT grow, gcol FROM k WHERE {g.in_grid_sql('grow', 'gcol')}
  GROUP BY grow, gcol HAVING count(DISTINCT point_source_id) > 1
)
SELECT k.point_id, round(k.x, 6) AS x, round(k.y, 6) AS y, round(k.z, 6) AS z,
       CASE WHEN ov.grow IS NOT NULL THEN 12 ELSE k.classification END AS classification
FROM k LEFT JOIN ov ON ov.grow = k.grow AND ov.gcol = k.gcol
"""


def _lidar_colourize_sql() -> str:
    from whitebox_tools_spark.operators.color import composite_oracle_sql

    comp = composite_oracle_sql(_PART_RASTER_SQL, _PART_RASTER2_SQL, _PART_RASTER3_SQL)
    g = EXTRACT_GRID
    return f"""
WITH pts AS ({_order_cloud_cte()}),
comp AS ({comp}),
rgb AS (SELECT row, col,
               CAST(value AS BIGINT) % 256 AS red,
               (CAST(value AS BIGINT) // 256) % 256 AS green,
               (CAST(value AS BIGINT) // 65536) % 256 AS blue
        FROM comp)
SELECT p.point_id, round(p.x, 6) AS x, round(p.y, 6) AS y, round(p.z, 6) AS z,
       rgb.red, rgb.green, rgb.blue
FROM pts p JOIN rgb ON rgb.row = {g.row_sql('p.y')} AND rgb.col = {g.col_sql('p.x')}
"""


def _lidar_histogram_sql() -> str:
    return f"""
WITH pts AS ({_order_cloud_cte()}),
st AS (SELECT min(z) AS mn, max(z) AS mx FROM pts),
b AS (SELECT least(CAST(floor((z - mn) / ((mx - mn) / 20.0)) AS BIGINT), 19) AS bin,
             mn, mx
      FROM pts CROSS JOIN st)
SELECT bin,
       round(min(mn) + bin * (min(mx) - min(mn)) / 20, 6) AS lo,
       round(min(mn) + (bin + 1) * (min(mx) - min(mn)) / 20, 6) AS hi,
       count(*) AS n
FROM b GROUP BY bin
"""


def _lidar_kappa_sql() -> str:
    return f"""
WITH a AS ({_order_cloud_cte()}),
b AS (SELECT point_id,
             CASE WHEN point_id % 7 = 0 THEN 1 ELSE classification END AS cb
      FROM a),
j AS (SELECT a.classification AS ca, b.cb FROM a JOIN b ON b.point_id = a.point_id),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM j),
pa AS (SELECT CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS DOUBLE) AS agree FROM j),
marg AS (
  SELECT SUM(CAST(na.cnt AS DOUBLE) * nb.cnt / (nn.n * nn.n)) AS pe
  FROM (SELECT ca AS cls, count(*) AS cnt FROM j GROUP BY ca) na
  JOIN (SELECT cb AS cls, count(*) AS cnt FROM j GROUP BY cb) nb ON nb.cls = na.cls
  CROSS JOIN nn
)
SELECT round((pa.agree / nn.n - marg.pe) / (1.0 - marg.pe), 6) AS kappa,
       round(pa.agree / nn.n, 6) AS overall_accuracy
FROM pa CROSS JOIN nn CROSS JOIN marg
"""


def _clip_lidar_sql(*, erase: bool) -> str:
    cte = _order_cloud_cte()
    pip = synth.pip_oracle_sql(cte, POLYS)
    op = "NOT IN" if erase else "IN"
    return f"""
WITH pts AS ({cte}),
hits AS ({pip})
SELECT point_id, round(x, 6) AS x, round(y, 6) AS y, round(z, 6) AS z, classification
FROM pts WHERE point_id {op} (SELECT DISTINCT point_id FROM hits)
"""


def _clip_raster_poly_sql(*, erase: bool) -> str:
    g = EXTRACT_GRID
    lake_polys = [
        synth.Poly(pid, tuple(
            synth.Part(tuple(xs), tuple(ys), hole) for xs, ys, hole in parts
        ))
        for pid, parts in _LAKES
    ]
    pip = synth.pip_oracle_sql(_grid_centers_cte(g), lake_polys)
    op = "NOT IN" if erase else "IN"
    return f"""
WITH dem AS (SELECT row, col, value FROM ({_NOISE_RASTER_SQL}) WHERE value IS NOT NULL),
hits AS ({pip})
SELECT row, col, round(value, 6) AS value
FROM dem WHERE row * {g.cols} + col {op} (SELECT DISTINCT point_id FROM hits)
"""


def _select_tiles_sql() -> str:
    cte = (
        "SELECT CAST(i AS BIGINT) AS point_id, "
        "62.5 + (i % 8) * 125.0 AS x, "
        "62.5 + CAST(floor(i / 8) AS BIGINT) * 125.0 AS y "
        "FROM generate_series(0, 63) t(i)"
    )
    pip = synth.pip_oracle_sql(cte, POLYS)
    return f"""
WITH tiles AS ({cte}),
hits AS ({pip})
SELECT point_id AS tile, round(x, 6) AS cx, round(y, 6) AS cy
FROM tiles WHERE point_id IN (SELECT DISTINCT point_id FROM hits)
"""


def q_lidar_thin_high_density(spark, sf_dir):
    """LidarThinHighDensity (lidar_analysis/lidar_thin_high_density.rs),
    resolution 100, density 0.0003 (thins the densest xy/z bins)."""
    from whitebox_tools_spark.operators.lidar import thin_high_density

    out = thin_high_density(
        _order_cloud(spark, sf_dir), resolution=100.0, density=0.0003
    )
    return _r6(out.select("point_id", "x", "y", "z", "classification"), ["x", "y", "z"])


def q_lidar_remove_duplicates(spark, sf_dir):
    """RemoveDuplicates (lidar_analysis/remove_duplicates.rs): the cloud
    unioned with a re-keyed copy of itself collapses back to one point per
    (x, y) with the lowest id."""
    from whitebox_tools_spark.operators.lidar import remove_duplicates

    c = _order_cloud(spark, sf_dir)
    doubled = c.unionByName(
        c.withColumn("point_id", F.col("point_id") + 10_000_000)
    )
    out = remove_duplicates(doubled)
    return out.select(
        "point_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"), "classification",
    )


def q_add_point_coordinates(spark, sf_dir):
    """AddPointCoordinatesToTable (data_tools/
    add_point_coordinates_to_table.rs): append XCoord/YCoord fields."""
    p = _cust_points(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"), "c_name", "c_mktsegment"
    )
    return cust.join(p.select("point_id", "x", "y"), "point_id").select(
        "point_id", "c_name", "c_mktsegment",
        F.round("x", 6).alias("XCoord"), F.round("y", 6).alias("YCoord"),
    )


def q_lidar_point_density(spark, sf_dir):
    """LidarPointDensity (lidar_analysis/lidar_point_density.rs): counts
    within 50 units of each NN_GRID cell center over pi r^2."""
    from whitebox_tools_spark.operators.lidar import lidar_point_density

    return _r6(
        lidar_point_density(_order_cloud(spark, sf_dir), NN_GRID, radius=50.0),
        ["value"],
    )


def q_lidar_remove_outliers(spark, sf_dir):
    """LidarRemoveOutliers (lidar_analysis/lidar_outliers.rs): mean-z
    difference over a 60-unit radius, 50-unit threshold."""
    from whitebox_tools_spark.operators.lidar import lidar_outliers

    out = lidar_outliers(_order_cloud(spark, sf_dir), radius=60.0, elev_diff=50.0)
    return out.select(
        "point_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"), "classification",
    )


def q_lidar_shift(spark, sf_dir):
    """LidarShift (lidar_analysis/lidar_shift.rs): rigid x/y/z offset."""
    from whitebox_tools_spark.operators.lidar import lidar_shift

    out = lidar_shift(_order_cloud(spark, sf_dir), dx=12.5, dy=-3.25, dz=1.5)
    return out.select(
        "point_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"),
    )


def q_lidar_filter_classes(spark, sf_dir):
    """FilterLidarClasses (lidar_analysis/filter_lidar_classes.rs)."""
    from whitebox_tools_spark.operators.lidar import filter_classes

    return filter_classes(_order_cloud(spark, sf_dir), [2]).select(
        "point_id", F.col("classification").cast("long").alias("classification")
    )


def q_lidar_block_minimum(spark, sf_dir):
    """LidarBlockMinimum (lidar_analysis/block_minimum.rs): lowest return
    per grid cell as a raster."""
    cloud = _order_cloud(spark, sf_dir)
    g = EXTRACT_GRID
    return (
        cloud.withColumns({"col": F.expr(g.col_sql("x")), "row": F.expr(g.row_sql("y"))})
        .filter(g.in_grid_sql("row", "col"))
        .groupBy("row", "col")
        .agg(F.round(F.min("z"), 6).alias("value"))
    )


def q_lidar_block_maximum(spark, sf_dir):
    """LidarBlockMaximum (lidar_analysis/block_maximum.rs)."""
    cloud = _order_cloud(spark, sf_dir)
    g = EXTRACT_GRID
    return (
        cloud.withColumns({"col": F.expr(g.col_sql("x")), "row": F.expr(g.row_sql("y"))})
        .filter(g.in_grid_sql("row", "col"))
        .groupBy("row", "col")
        .agg(F.round(F.max("z"), 6).alias("value"))
    )


def _add_coords_sql() -> str:
    x, y = synth.point_sql("c_custkey")
    return (
        f"SELECT c_custkey AS point_id, c_name, c_mktsegment, "
        f"round({x}, 6) AS XCoord, round({y}, 6) AS YCoord FROM customer"
    )


def _lidar_density_sql() -> str:
    from whitebox_tools_spark.operators.lidar import lidar_point_density_oracle_sql

    inner = lidar_point_density_oracle_sql(_order_cloud_cte(), NN_GRID, radius=50.0)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _lidar_outliers_sql() -> str:
    from whitebox_tools_spark.operators.lidar import lidar_outliers_oracle_sql

    inner = lidar_outliers_oracle_sql(_order_cloud_cte(), radius=60.0, elev_diff=50.0)
    return (
        f"SELECT point_id, round(x, 6) AS x, round(y, 6) AS y, round(z, 6) AS z, "
        f"classification FROM ({inner}) t"
    )


def _lidar_sql(which: str) -> str:
    g = EXTRACT_GRID
    cloud = _order_cloud_cte()
    rc = f"{g.row_sql('y')} AS row, {g.col_sql('x')} AS col"
    if which == "stats":
        return f"""
WITH c AS (SELECT point_id, z, {rc} FROM ({cloud}))
SELECT row, col, count(*) AS n_points, round(min(z), 6) AS min_z,
       round(max(z), 6) AS max_z, round(avg(z), 6) AS mean_z
FROM c WHERE {g.in_grid_sql('row', 'col')} GROUP BY row, col
"""
    if which == "thin":
        return f"""
WITH c AS (SELECT point_id, z, x, y, {rc} FROM ({cloud})),
r AS (SELECT *, row_number() OVER (PARTITION BY row, col ORDER BY z, point_id) AS rn FROM c)
SELECT point_id, row, col, round(z, 6) AS z FROM r WHERE rn = 1
"""
    if which == "shift":
        return f"""
SELECT point_id, round(x + 12.5, 6) AS x, round(y + -3.25, 6) AS y,
       round(z + 1.5, 6) AS z
FROM ({cloud})
"""
    if which == "classes":
        return f"""
SELECT point_id, CAST(classification AS BIGINT) AS classification
FROM ({cloud}) WHERE classification IN (2)
"""
    if which in ("block_min", "block_max"):
        fn = "min" if which == "block_min" else "max"
        return f"""
WITH c AS (SELECT z, {rc} FROM ({cloud}))
SELECT row, col, round({fn}(z), 6) AS value
FROM c WHERE {g.in_grid_sql('row', 'col')} GROUP BY row, col
"""
    return f"""
SELECT point_id, round(z, 6) AS z FROM ({cloud}) WHERE z >= 100.0 AND z <= 200.0
"""


def _stat_filter_sql(stat: str) -> str:
    from whitebox_tools_spark.operators.focal import stat_filter_oracle_sql

    inner = stat_filter_oracle_sql(_PART_RASTER_SQL, stat)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner})"


_CLS_RASTER_SQL = (
    "SELECT row, col, floor(value / 500.0)::DOUBLE AS value "
    f"FROM ({_PART_RASTER_SQL})"
)


def _focal_cls_sql(which: str) -> str:
    """Class-valued focal oracles (diversity / majority) on the coarsened
    integer-class raster that the matching queries use."""
    from whitebox_tools_spark.operators import focal as FO

    if which == "diversity":
        return FO.stat_filter_oracle_sql(_CLS_RASTER_SQL, "diversity")
    return FO.majority_oracle_sql(_CLS_RASTER_SQL)


def _focal_r6_sql(which: str) -> str:
    from whitebox_tools_spark.operators import focal as FO

    inner = {
        "elev_percentile": lambda: FO.elev_percentile_oracle_sql(_PART_RASTER_SQL),
        "ruggedness": lambda: FO.ruggedness_oracle_sql(_PART_RASTER_SQL),
        "diff_from_mean": lambda: FO.diff_from_mean_oracle_sql(_PART_RASTER_SQL),
        "dev_from_mean": lambda: FO.dev_from_mean_oracle_sql(_PART_RASTER_SQL),
        "opening": lambda: FO.morphology_oracle_sql(_PART_RASTER_SQL, "opening"),
        "closing": lambda: FO.morphology_oracle_sql(_PART_RASTER_SQL, "closing"),
        "tophat": lambda: FO.morphology_oracle_sql(_PART_RASTER_SQL, "tophat"),
    }[which]()
    return f"SELECT row, col, round(value, 6) + 0.0 AS value FROM ({inner})"


def _clip_erase_sql(*, erase: bool) -> str:
    x, y = synth.point_sql("c_custkey")
    cte = f"SELECT c_custkey AS point_id, {x} AS x, {y} AS y FROM customer"
    pip = synth.pip_oracle_sql(cte, POLYS)
    op = "NOT IN" if erase else "IN"
    return f"""
WITH pts AS ({cte}),
hits AS ({pip})
SELECT point_id, x, y,
       CAST(row_number() OVER (ORDER BY point_id) AS BIGINT) AS FID
FROM pts WHERE point_id {op} (SELECT DISTINCT point_id FROM hits)
"""


def _lidar_hexbin_sql() -> str:
    from whitebox_tools_spark.operators.tiling import hex_binning_oracle_sql

    cte = "SELECT point_id, x, y FROM (" + _order_cloud_cte() + ") t"
    return hex_binning_oracle_sql(
        cte, width=120.0, min_x=0.0, max_x=1000.0, min_y=0.0, max_y=1000.0
    )


def _lidar_footprint_sql() -> str:
    tcol, trow, tile = lidar_tile_sql(
        "x", "y", width=250.0, height=250.0, origin_x=0.0, origin_y=0.0,
        min_x=0.0, min_y=0.0, max_x=1000.0, max_y=1000.0,
    )
    return f"""
WITH pts AS ({_order_cloud_cte()}),
t AS (SELECT point_id, x, y, {tile} AS tile FROM pts)
SELECT tile, count(*) AS n,
       round(min(x), 6) AS min_x, round(max(x), 6) AS max_x,
       round(min(y), 6) AS min_y, round(max(y), 6) AS max_y
FROM t GROUP BY tile
"""


def _find_ridges_sql() -> str:
    from whitebox_tools_spark.operators.terrain import find_ridges_oracle_sql

    return find_ridges_oracle_sql(_PART_RASTER_SQL)


def _hexbin_sql() -> str:
    from whitebox_tools_spark.operators.tiling import hex_binning_oracle_sql

    x, y = synth.point_sql("c_custkey")
    cte = f"SELECT c_custkey AS point_id, {x} AS x, {y} AS y FROM customer"
    return hex_binning_oracle_sql(
        cte, width=80.0, min_x=0.0, max_x=1000.0, min_y=0.0, max_y=1000.0
    )


def _edges_cte() -> str:
    return (
        "edges AS (SELECT * FROM (VALUES\n"
        + synth.edges_sql_values(POLYS)
        + f"\n) AS {synth.EDGES_SQL_COLS})"
    )


def _filter_area_sql() -> str:
    return _CLUMP_CTES + """
, sizes AS (SELECT clump_id, count(*) AS n FROM labeled GROUP BY clump_id)
SELECT l.row, l.col,
       CASE WHEN s.n >= 5 THEN l.value ELSE 0.0 END AS value
FROM labeled l JOIN sizes s ON s.clump_id = l.clump_id
"""


def _create_plane_sql() -> str:
    g = NN_GRID
    return f"""
WITH RECURSIVE
dr(row) AS (SELECT CAST(0 AS BIGINT)
            UNION ALL SELECT row + 1 FROM dr WHERE row < {g.rows - 1}),
dc(col) AS (SELECT CAST(0 AS BIGINT)
            UNION ALL SELECT col + 1 FROM dc WHERE col < {g.cols - 1})
SELECT row, col,
       round(100.0 + 0.05 * ({g.x_center_sql("col")})
             - 0.02 * ({g.y_center_sql("row")}), 6) AS value
FROM dr CROSS JOIN dc
"""


def _elim_coincident_sql() -> str:
    pts = _cust_points_cte("")
    return f"""
WITH pts AS ({pts}),
keep AS (
  SELECT min(point_id) AS point_id
  FROM pts GROUP BY floor(x / 25.0), floor(y / 25.0)
)
SELECT p.point_id, round(p.x, 6) AS x, round(p.y, 6) AS y
FROM pts p JOIN keep k ON k.point_id = p.point_id
"""


def _medoid_sql() -> str:
    from whitebox_tools_spark.operators.vector_ops import medoid_oracle_sql

    pts = _cust_points_cte("")
    inner = medoid_oracle_sql(pts)
    return (
        f"SELECT point_id, round(x, 6) AS x, round(y, 6) AS y FROM ({inner}) t"
    )


def _edges_values_sql(parts_list) -> str:
    rows = []
    for pid, parts in parts_list:
        for xs, ys, _hole in parts:
            for i in range(len(xs) - 1):
                rows.append(
                    f"({pid}, {float(xs[i])!r}, {float(ys[i])!r}, "
                    f"{float(xs[i + 1])!r}, {float(ys[i + 1])!r})"
                )
    return (
        "SELECT * FROM (VALUES\n" + ",\n".join(rows)
        + "\n) AS t(poly_id, x0, y0, x1, y1)"
    )


def _line_intersections_sql() -> str:
    from whitebox_tools_spark.operators.vector_ops import line_intersections_oracle_sql

    return line_intersections_oracle_sql(
        _edges_values_sql(PARTS_A), _edges_values_sql(PARTS)
    )


def _vertices_values_cte() -> str:
    rows = []
    for pid, parts in PARTS:
        for k, (xs, ys, hole) in enumerate(parts):
            for i, (x, y) in enumerate(zip(xs, ys)):
                rows.append(
                    f"({pid}, {k}, {str(bool(hole)).lower()}, {i}, {float(x)!r}, {float(y)!r})"
                )
    return (
        "verts AS (SELECT * FROM (VALUES\n" + ",\n".join(rows)
        + "\n) AS t(poly_id, part_idx, is_hole, idx, x, y))"
    )


def _envelope_sql() -> str:
    return f"""
WITH {_vertices_values_cte()}
SELECT CAST(poly_id AS BIGINT) AS poly_id,
       round(min(x), 6) AS min_x, round(max(x), 6) AS max_x,
       round(min(y), 6) AS min_y, round(max(y), 6) AS max_y
FROM verts WHERE NOT is_hole GROUP BY poly_id
"""


def _extract_nodes_sql() -> str:
    return f"""
WITH {_vertices_values_cte()}
SELECT CAST(poly_id AS BIGINT) AS poly_id, part_idx,
       CAST(idx AS BIGINT) AS idx, round(x, 6) AS x, round(y, 6) AS y
FROM verts
"""


def _smooth_vectors_sql() -> str:
    return f"""
WITH {_vertices_values_cte()},
cnt AS (SELECT poly_id, part_idx, max(idx) AS last FROM verts GROUP BY 1, 2),
sm AS (
  SELECT v.poly_id, v.part_idx, v.idx, v.x, v.y, c.last,
         avg(v.x) OVER (PARTITION BY v.poly_id, v.part_idx ORDER BY v.idx
                        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS sx,
         avg(v.y) OVER (PARTITION BY v.poly_id, v.part_idx ORDER BY v.idx
                        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS sy
  FROM verts v JOIN cnt c ON c.poly_id = v.poly_id AND c.part_idx = v.part_idx
)
SELECT CAST(poly_id AS BIGINT) AS poly_id, part_idx, CAST(idx AS BIGINT) AS idx,
       round(CASE WHEN idx > 0 AND idx < last AND last > 2 THEN sx ELSE x END, 6) AS x,
       round(CASE WHEN idx > 0 AND idx < last AND last > 2 THEN sy ELSE y END, 6) AS y
FROM sm
"""


def _elongation_sql() -> str:
    """Independent rotating-calipers min-area box per feature (its own
    hull + projection sweep, not the engine's numpy kernel), emitted as
    literal elongation values."""
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

    def elong(pts):
        h = hull(pts)
        if len(h) < 3:
            return 0.0
        best = None
        for i in range(len(h)):
            x0, y0 = h[i]
            x1, y1 = h[(i + 1) % len(h)]
            ex, ey = x1 - x0, y1 - y0
            n = _m.hypot(ex, ey)
            if n == 0:
                continue
            ux, uy = ex / n, ey / n
            proj_u = [p[0] * ux + p[1] * uy for p in h]
            proj_v = [-p[0] * uy + p[1] * ux for p in h]
            w = max(proj_u) - min(proj_u)
            ht = max(proj_v) - min(proj_v)
            if best is None or w * ht < best[0]:
                best = (w * ht, w, ht)
        _, w, ht = best
        s, l = min(w, ht), max(w, ht)
        return 1.0 - s / l

    rows = []
    for pid, parts in PARTS:
        pts = []
        for xs, ys, hole in parts:
            if not hole:
                pts.extend(zip([float(v) for v in xs], [float(v) for v in ys]))
        rows.append(f"({pid}, {round(elong(pts), 6)!r})")
    return (
        "SELECT CAST(poly_id AS BIGINT) AS poly_id, CAST(elongation AS DOUBLE) AS elongation FROM (VALUES "
        + ", ".join(rows) + ") AS t(poly_id, elongation)"
    )


def _mbb_axes(pts):
    """Independent rotating-calipers min-area box axis lengths."""
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
        proj_u = [p[0] * ux + p[1] * uy for p in h]
        proj_v = [-p[0] * uy + p[1] * ux for p in h]
        w = max(proj_u) - min(proj_u)
        ht = max(proj_v) - min(proj_v)
        if best is None or w * ht < best[0]:
            best = (w * ht, w, ht)
    _, w, ht = best
    return min(w, ht), max(w, ht)


def _extend_lines_sql() -> str:
    segs = _cust_segs_cte()
    return f"""
WITH segs AS ({segs}),
ends AS (
  SELECT line_id,
         min_by(px0, seg_idx) AS x1, min_by(py0, seg_idx) AS y1,
         min_by(px1, seg_idx) AS x2, min_by(py1, seg_idx) AS y2,
         max_by(px1, seg_idx) AS xn, max_by(py1, seg_idx) AS yn,
         max_by(px0, seg_idx) AS xm, max_by(py0, seg_idx) AS ym,
         count(*) + 1 AS nv
  FROM segs GROUP BY line_id
)
SELECT line_id,
       round(x1 + 15.0 * (x1 - x2) / sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)), 6) AS sx,
       round(y1 + 15.0 * (y1 - y2) / sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)), 6) AS sy,
       round(xn + 15.0 * (xn - xm) / sqrt((xn - xm) * (xn - xm) + (yn - ym) * (yn - ym)), 6) AS ex,
       round(yn + 15.0 * (yn - ym) / sqrt((xn - xm) * (xn - xm) + (yn - ym) * (yn - ym)), 6) AS ey,
       CAST(nv AS BIGINT) AS nv
FROM ends
"""


def _layer_footprint_sql() -> str:
    vals = []
    for pid, parts in PARTS:
        for xs, ys, hole in parts:
            for x, y in zip(xs, ys):
                vals.append(f"({float(x)!r}, {float(y)!r})")
    return (
        "SELECT round(min(x), 6) AS xmin, round(min(y), 6) AS ymin, "
        "round(max(x), 6) AS xmax, round(max(y), 6) AS ymax "
        "FROM (VALUES " + ", ".join(vals) + ") AS t(x, y)"
    )


def _axis_sql(*, long: bool) -> str:
    rows = []
    for pid, parts in PARTS:
        pts = []
        for xs, ys, hole in parts:
            if not hole:
                pts.extend(zip([float(v) for v in xs], [float(v) for v in ys]))
        s, l = _mbb_axes(pts)
        rows.append(f"({pid}, {round(l if long else s, 6)!r})")
    return (
        "SELECT CAST(poly_id AS BIGINT) AS poly_id, CAST(length AS DOUBLE) AS length "
        "FROM (VALUES " + ", ".join(rows) + ") AS t(poly_id, length)"
    )


def _indep_mbc(pts):
    """Independent brute-force smallest enclosing circle (pairs+triples)."""
    import math as _m

    pts = sorted(set(pts))
    if len(pts) == 1:
        return pts[0][0], pts[0][1], 0.0
    eps = 1e-9
    best = None

    def covers(cx, cy, r):
        return all((x - cx) ** 2 + (y - cy) ** 2 <= (r + eps) ** 2 for x, y in pts)

    n = len(pts)
    for i in range(n):
        for j in range(i + 1, n):
            cx = (pts[i][0] + pts[j][0]) / 2.0
            cy = (pts[i][1] + pts[j][1]) / 2.0
            r = _m.hypot(pts[i][0] - cx, pts[i][1] - cy)
            if (best is None or r < best[2]) and covers(cx, cy, r):
                best = (cx, cy, r)
    for i in range(n):
        for j in range(i + 1, n):
            for k in range(j + 1, n):
                (ax, ay), (bx, by), (cx_, cy_) = pts[i], pts[j], pts[k]
                d = 2.0 * (ax * (by - cy_) + bx * (cy_ - ay) + cx_ * (ay - by))
                if d == 0.0:
                    continue
                ux = ((ax * ax + ay * ay) * (by - cy_) + (bx * bx + by * by) * (cy_ - ay)
                      + (cx_ * cx_ + cy_ * cy_) * (ay - by)) / d
                uy = ((ax * ax + ay * ay) * (cx_ - bx) + (bx * bx + by * by) * (ax - cx_)
                      + (cx_ * cx_ + cy_ * cy_) * (bx - ax)) / d
                r = _m.hypot(ax - ux, ay - uy)
                if (best is None or r < best[2]) and covers(ux, uy, r):
                    best = (ux, uy, r)
    return best


def _round_half_up(v, nd=6):
    """Mirror Spark's ROUND (half away from zero) for literal oracles —
    python round() is banker's and diverges on exact .5 boundaries."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(v)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _mbc_sql() -> str:
    rows = []
    for pid, parts in PARTS:
        pts = []
        for xs, ys, hole in parts:
            if not hole:
                pts.extend(zip([float(v) for v in xs], [float(v) for v in ys]))
        cx, cy, r = _indep_mbc(pts)
        rows.append(
            f"({pid}, {_round_half_up(cx)!r}, {_round_half_up(cy)!r}, {_round_half_up(r)!r})"
        )
    return (
        "SELECT CAST(poly_id AS BIGINT) AS poly_id, CAST(cx AS DOUBLE) AS cx, "
        "CAST(cy AS DOUBLE) AS cy, CAST(radius AS DOUBLE) AS radius "
        "FROM (VALUES " + ", ".join(rows) + ") AS t(poly_id, cx, cy, radius)"
    )


def _rcc_sql() -> str:
    import math as _m

    def sh_area(xs, ys):
        s = 0.0
        for i in range(len(xs) - 1):
            s += xs[i] * ys[i + 1] - xs[i + 1] * ys[i]
        return abs(s) / 2.0

    rows = []
    for pid, parts in PARTS:
        area = 0.0
        area_c = 0.0
        for xs, ys, hole in parts:
            a = sh_area([float(v) for v in xs], [float(v) for v in ys])
            area += -a if hole else a
            _cx, _cy, r = _indep_mbc(
                list(zip([float(v) for v in xs], [float(v) for v in ys]))
            )
            area_c += _m.pi * r * r
        rows.append(f"({pid}, {round(1.0 - area / area_c, 6)!r})")
    return (
        "SELECT CAST(poly_id AS BIGINT) AS poly_id, CAST(value AS DOUBLE) AS value "
        "FROM (VALUES " + ", ".join(rows) + ") AS t(poly_id, value)"
    )


def _sci_sql() -> str:
    """Hull areas precomputed by an INDEPENDENT monotone-chain + shoelace
    implementation (not the engine's geometry kernel); shell areas from the
    edges CTE in SQL."""
    def hull_area(pts):
        pts = sorted(set(pts))
        if len(pts) < 3:
            return 0.0

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
        ring = lower[:-1] + upper[:-1]
        a = 0.0
        for i in range(len(ring)):
            x0, y0 = ring[i]
            x1, y1 = ring[(i + 1) % len(ring)]
            a += x0 * y1 - x1 * y0
        return abs(a) / 2.0

    rows = []
    for pid, parts in PARTS:
        pts = []
        for xs, ys, hole in parts:
            if not hole:
                pts.extend(zip([float(v) for v in xs], [float(v) for v in ys]))
        rows.append(f"({pid}, {hull_area(pts)!r})")
    hulls = "hulls(poly_id, hull_area) AS (VALUES " + ", ".join(rows) + ")"
    return f"""
WITH {_edges_cte()},
{hulls},
per_part AS (
  SELECT poly_id, part_idx, any_value(is_hole) AS is_hole,
         abs(sum(x0 * y1 - x1 * y0)) / 2.0 AS a
  FROM edges GROUP BY poly_id, part_idx
),
feat AS (
  SELECT poly_id, sum(CASE WHEN NOT is_hole THEN a ELSE 0.0 END) AS area
  FROM per_part GROUP BY poly_id
)
SELECT CAST(f.poly_id AS BIGINT) AS poly_id,
       round(1.0 - f.area / h.hull_area, 6) AS sci
FROM feat f JOIN hulls h ON h.poly_id = f.poly_id
"""


def _par_ratio_sql() -> str:
    return f"""
WITH {_edges_cte()},
per_part AS (
  SELECT poly_id, part_idx, any_value(is_hole) AS is_hole,
         abs(sum(x0 * y1 - x1 * y0)) / 2.0 AS a,
         sum(sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0))) AS p
  FROM edges GROUP BY poly_id, part_idx
),
feat AS (
  SELECT poly_id,
         sum(CASE WHEN is_hole THEN -a ELSE a END) AS area,
         sum(p) AS perimeter
  FROM per_part GROUP BY poly_id
)
SELECT CAST(poly_id AS BIGINT) AS poly_id,
       round(perimeter / area, 6) AS ratio
FROM feat
"""


def _hole_prop_sql() -> str:
    return f"""
WITH {_edges_cte()},
per_part AS (
  SELECT poly_id, part_idx, any_value(is_hole) AS is_hole,
         abs(sum(x0 * y1 - x1 * y0)) / 2.0 AS a
  FROM edges GROUP BY poly_id, part_idx
),
feat AS (
  SELECT poly_id,
         sum(CASE WHEN is_hole THEN a ELSE 0.0 END) AS ha,
         sum(CASE WHEN NOT is_hole THEN a ELSE 0.0 END) AS sa
  FROM per_part GROUP BY poly_id
)
SELECT CAST(poly_id AS BIGINT) AS poly_id, round(ha / sa, 6) AS hole_prop
FROM feat
"""


def _shape_idx_sql(which: str) -> str:
    from whitebox_tools_spark.operators.vector_ops import shape_indices_oracle_sql

    rows = []
    for pid, parts in PARTS:
        xs, ys, _hole = parts[0]
        for x, y in zip(xs, ys):
            rows.append(f"({pid}, {float(x)!r}, {float(y)!r})")
    cte = (
        "SELECT * FROM (VALUES\n" + ",\n".join(rows) + "\n) AS t(poly_id, x, y)"
    )
    inner = shape_indices_oracle_sql(cte, which)
    col = "linearity" if which == "linearity" else "orientation"
    return (
        f"SELECT CAST(poly_id AS BIGINT) AS poly_id, round({col}, 6) AS {col} "
        f"FROM ({inner}) t"
    )


def _polygon_metrics_sql() -> str:
    return f"""
WITH edges AS (SELECT * FROM (VALUES
{synth.edges_sql_values(POLYS)}
) AS {synth.EDGES_SQL_COLS}),
per_part AS (
  SELECT poly_id, part_idx, any_value(is_hole) AS is_hole,
         abs(sum(x0 * y1 - x1 * y0)) / 2.0 AS a,
         sum(sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0))) AS p,
         sum((x0 + x1) * (x0 * y1 - x1 * y0)) AS cxs,
         sum((y0 + y1) * (x0 * y1 - x1 * y0)) AS cys,
         sum(x0 * y1 - x1 * y0) AS a2
  FROM edges GROUP BY poly_id, part_idx
),
feat AS (
  SELECT poly_id,
         sum(CASE WHEN is_hole THEN -a ELSE a END) AS area,
         sum(p) AS perimeter,
         min(CASE WHEN NOT is_hole THEN cxs / (3.0 * a2) END) AS cx,
         min(CASE WHEN NOT is_hole THEN cys / (3.0 * a2) END) AS cy
  FROM per_part GROUP BY poly_id
)
SELECT CAST(poly_id AS BIGINT) AS poly_id, round(area, 6) AS area, round(perimeter, 6) AS perimeter,
       round(cx, 6) AS cx, round(cy, 6) AS cy,
       round(perimeter / (2.0 * sqrt(pi()) * sqrt(abs(area))), 6) AS compactness
FROM feat
"""


def _kmeans_sql() -> str:
    from whitebox_tools_spark.operators.ml import lloyd_kmeans_oracle_sql

    fc = [f"f{i}" for i in range(8)]
    src = (
        "SELECT vec_id, "
        + ", ".join(f"embedding[{i + 1}]::DOUBLE AS f{i}" for i in range(8))
        + " FROM embeddings"
    )
    inner = lloyd_kmeans_oracle_sql(src, fc, 4, id_col="vec_id", iters=8)
    return f"SELECT vec_id, cluster::BIGINT AS cluster FROM ({inner})"


def _modified_kmeans_sql() -> str:
    from whitebox_tools_spark.operators.ml import modified_kmeans_oracle_sql

    fc = [f"f{i}" for i in range(4)]
    src = (
        "SELECT vec_id, "
        + ", ".join(f"embedding[{i + 1}]::DOUBLE AS f{i}" for i in range(4))
        + " FROM embeddings"
    )
    inner = modified_kmeans_oracle_sql(
        src, fc, id_col="vec_id", start_clusters=12, merge_dist=0.2, iters=6
    )
    return f"SELECT vec_id, cluster::BIGINT AS cluster FROM ({inner})"


# ---------------------------------------------------------------------------
# lidar RANSAC-family literal oracles (serial_lidar.py transcriptions) —
# converts the last rows-only queries to value-checked (round-5)
# ---------------------------------------------------------------------------

def _sl():
    """Lazy import of the serial lidar RANSAC-family transcriptions."""
    from whitebox_tools_spark import serial_lidar

    return serial_lidar


_LIDAR_ORACLE_MEMO: dict[str, str] = {}


def _lidar_ransac_planes_sql() -> str:
    """Literal VALUES oracle for q_lidar_ransac_planes: the independent
    brute-force serial transcription's (point_id, is_planar) table."""
    if "ransac" not in _LIDAR_ORACLE_MEMO:
        sl = _sl()
        vals = sl.ransac_planes_serial(
            sl.ransac_cloud(), radius=400.0, num_iter=20, num_samples=5,
            threshold=0.5, model_size=20, seed=3,
        )
        rows = ", ".join(
            f"({p}, {'TRUE' if v else 'FALSE'})" for p, v in sorted(vals.items())
        )
        _LIDAR_ORACLE_MEMO["ransac"] = (
            "SELECT CAST(p AS BIGINT) AS point_id, v AS is_planar "
            f"FROM (VALUES {rows}) AS t(p, v)"
        )
    return _LIDAR_ORACLE_MEMO["ransac"]


def _lidar_segmentation_sql() -> str:
    """Literal VALUES oracle for q_lidar_segmentation: the serial union-find
    transcription's (point_id, segment_id, is_planar) table."""
    if "seg" not in _LIDAR_ORACLE_MEMO:
        sl = _sl()
        out = sl.segmentation_serial(
            sl.seg_cloud(), radius=400.0, norm_diff=5.0, maxzdiff=150.0,
            num_iter=20, num_samples=5, threshold=0.5, model_size=20, seed=3,
        )
        rows = ", ".join(
            f"({p}, {lab}, {'TRUE' if pl else 'FALSE'})"
            for p, (lab, pl) in sorted(out.items())
        )
        _LIDAR_ORACLE_MEMO["seg"] = (
            "SELECT CAST(p AS BIGINT) AS point_id, CAST(s AS BIGINT) AS segment_id, "
            f"v AS is_planar FROM (VALUES {rows}) AS t(p, s, v)"
        )
    return _LIDAR_ORACLE_MEMO["seg"]


def _lidar_sbf_sql() -> str:
    """Literal VALUES oracle for q_lidar_segmentation_based_filter: the
    serial tophat + normals + BFS transcription's (point_id, is_ground)."""
    if "sbf" not in _LIDAR_ORACLE_MEMO:
        sl = _sl()
        vals = sl.sbf_serial(
            sl.sbf_cloud(), radius=250.0, norm_diff=10.0, maxzdiff=20.0
        )
        rows = ", ".join(
            f"({p}, {'TRUE' if v else 'FALSE'})" for p, v in sorted(vals.items())
        )
        _LIDAR_ORACLE_MEMO["sbf"] = (
            "SELECT CAST(p AS BIGINT) AS point_id, v AS is_ground "
            f"FROM (VALUES {rows}) AS t(p, v)"
        )
    return _LIDAR_ORACLE_MEMO["sbf"]


def _lidar_rooftop_sql() -> str:
    """Hybrid literal oracle for q_lidar_rooftop_analysis: building
    membership from the repo's proven winding-PIP oracle SQL (executed here
    in DuckDB over the literal 41x41 cloud), facet labels from
    serial_lidar.segmentation_serial over the clipped points, and the
    per-(building, facet) aggregates computed serially — every input is an
    exact dyadic double (grid coords are multiples of 25), so sums, mins
    and averages are order-free and bit-identical to the engine's."""
    if "rooftop" not in _LIDAR_ORACLE_MEMO:
        import duckdb
        import numpy as np

        from whitebox_tools_spark.serial_oracles import round_half_away

        sl = _sl()
        pid, x, y, z = sl.rooftop_cloud()
        pts_vals = ", ".join(
            f"({int(p)}, {float(xv)!r}, {float(yv)!r})"
            for p, xv, yv in zip(pid, x, y)
        )
        pip = synth.pip_oracle_sql(
            f"SELECT * FROM (VALUES {pts_vals}) AS t(point_id, x, y)", POLYS
        )
        by_pt: dict[int, set[int]] = {}
        for p, b in duckdb.sql(pip).fetchall():
            by_pt.setdefault(int(p), set()).add(int(b))
        mask = np.array([int(p) in by_pt for p in pid])
        sub = (pid[mask], x[mask], y[mask], z[mask])
        seg = sl.segmentation_serial(
            sub, radius=60.0, norm_diff=5.0, maxzdiff=150.0,
            num_iter=20, num_samples=5, threshold=0.5, model_size=5, seed=3,
        )
        groups: dict[tuple[int, int], list[int]] = {}
        for i in np.nonzero(mask)[0]:
            p = int(pid[i])
            lab, planar = seg[p]
            if not planar:
                continue
            for b in by_pt[p]:
                groups.setdefault((b, lab), []).append(int(i))
        rows = []
        for (b, lab), idxs in sorted(groups.items()):
            xs, ys, zs = x[idxs], y[idxs], z[idxs]
            n = len(idxs)
            rows.append(
                f"({b}, {lab}, {n}, "
                f"{round_half_away(float(zs.min()), 6)!r}, "
                f"{round_half_away(float(zs.max()), 6)!r}, "
                f"{round_half_away(float(xs.sum() / n), 6)!r}, "
                f"{round_half_away(float(ys.sum() / n), 6)!r})"
            )
        _LIDAR_ORACLE_MEMO["rooftop"] = (
            "SELECT CAST(b AS BIGINT) AS building_id, CAST(s AS BIGINT) AS segment_id, "
            "CAST(n AS BIGINT) AS n_points, CAST(zmin AS DOUBLE) AS z_min, "
            "CAST(zmax AS DOUBLE) AS z_max, CAST(cx AS DOUBLE) AS cx, "
            "CAST(cy AS DOUBLE) AS cy "
            f"FROM (VALUES {', '.join(rows)}) AS t(b, s, n, zmin, zmax, cx, cy)"
        )
    return _LIDAR_ORACLE_MEMO["rooftop"]
