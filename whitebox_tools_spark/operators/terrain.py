"""Terrain index operators (class MAP/ZIP/FOC) over cell tables.

References (reference = depowered/whitebox-tools):
  - WetnessIndex: terrain_analysis/wetness_index.rs (ln(sca/tan(slope_rad)),
    zero slope -> NULL).
  - RelativeStreamPowerIndex: terrain_analysis/relative_stream_power_index.rs
    (sca^p * tan(slope_rad)).
  - SedimentTransportIndex: terrain_analysis/sediment_transport_index.rs:313-315
    ((n+1)(sca/22.13)^n (sin(slope_rad)/0.0896)^m).
  - NumDownslopeNeighbours / NumUpslopeNeighbours:
    terrain_analysis/num_downslope_neighbours.rs (count of 8-neighbors with
    zn < z / zn > z; only VALID neighbors are compared here, whereas the
    reference's raw sentinel compare also counts nodata cells).
  - Max/MinDownslopeElevChange, MaxUpslopeElevChange:
    terrain_analysis/max_downslope_elev_change.rs (z-change of the
    steepest/gentlest neighbor by slope over the grid length; slope ties
    break by z-change, engine and oracle alike, where the reference takes
    its fixed loop order).

All are single-join ZIP expressions or one scatter-shuffle focal
aggregates — the same 100-TB shapes as raster_math/focal.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import GridSpec

_OFFS8 = [(-1, -1), (0, -1), (1, -1), (-1, 0), (1, 0), (-1, 1), (0, 1), (1, 1)]


def _zip_join(sca: DataFrame, slope_df: DataFrame) -> DataFrame:
    return (
        sca.filter(F.col("value").isNotNull())
        .select("row", "col", F.col("value").alias("sca"))
        .join(
            slope_df.filter(F.col("value").isNotNull())
            .select("row", "col", F.col("value").alias("slp")),
            ["row", "col"],
        )
    )


def wetness_index(sca: DataFrame, slope_df: DataFrame) -> DataFrame:
    """TWI = ln(sca / tan(radians(slope_deg))); slope 0 -> NULL."""
    j = _zip_join(sca, slope_df)
    return j.select(
        "row", "col",
        F.when(
            F.col("slp") != 0.0,
            F.log(F.col("sca") / F.tan(F.radians(F.col("slp")))),
        ).alias("value"),
    )


def wetness_index_oracle_sql(sca_sql: str, slope_sql: str) -> str:
    return f"""
WITH sca AS (SELECT row, col, value FROM ({sca_sql}) WHERE value IS NOT NULL),
slp AS (SELECT row, col, value FROM ({slope_sql}) WHERE value IS NOT NULL)
SELECT sca.row, sca.col,
       CASE WHEN slp.value <> 0.0
            THEN ln(sca.value / tan(radians(slp.value))) END AS value
FROM sca JOIN slp ON sca.row = slp.row AND sca.col = slp.col
"""


def stream_power_index(
    sca: DataFrame, slope_df: DataFrame, *, exponent: float = 1.0
) -> DataFrame:
    """RSP = sca^p * tan(radians(slope_deg))."""
    j = _zip_join(sca, slope_df)
    return j.select(
        "row", "col",
        (F.pow(F.col("sca"), F.lit(exponent)) * F.tan(F.radians(F.col("slp"))))
        .alias("value"),
    )


def stream_power_oracle_sql(sca_sql: str, slope_sql: str, *, exponent: float = 1.0) -> str:
    return f"""
WITH sca AS (SELECT row, col, value FROM ({sca_sql}) WHERE value IS NOT NULL),
slp AS (SELECT row, col, value FROM ({slope_sql}) WHERE value IS NOT NULL)
SELECT sca.row, sca.col,
       power(sca.value, {exponent!r}) * tan(radians(slp.value)) AS value
FROM sca JOIN slp ON sca.row = slp.row AND sca.col = slp.col
"""


def sediment_transport_index(
    sca: DataFrame, slope_df: DataFrame, *, sca_exponent: float = 0.4,
    slope_exponent: float = 1.3,
) -> DataFrame:
    """STI = (n+1)(sca/22.13)^n (sin(radians(slope))/0.0896)^m."""
    j = _zip_join(sca, slope_df)
    return j.select(
        "row", "col",
        (
            F.lit(sca_exponent + 1.0)
            * F.pow(F.col("sca") / 22.13, F.lit(sca_exponent))
            * F.pow(F.sin(F.radians(F.col("slp"))) / 0.0896, F.lit(slope_exponent))
        ).alias("value"),
    )


def sediment_transport_oracle_sql(
    sca_sql: str, slope_sql: str, *, sca_exponent: float = 0.4,
    slope_exponent: float = 1.3,
) -> str:
    return f"""
WITH sca AS (SELECT row, col, value FROM ({sca_sql}) WHERE value IS NOT NULL),
slp AS (SELECT row, col, value FROM ({slope_sql}) WHERE value IS NOT NULL)
SELECT sca.row, sca.col,
       {sca_exponent + 1.0!r} * power(sca.value / 22.13, {sca_exponent!r})
       * power(sin(radians(slp.value)) / 0.0896, {slope_exponent!r}) AS value
FROM sca JOIN slp ON sca.row = slp.row AND sca.col = slp.col
"""


def _nbr8(cells: DataFrame, res: float) -> DataFrame:
    """-> (row, col, center, zn, dist): one row per (cell, VALID 8-neighbor)."""
    spark = cells.sparkSession
    diag = res * math.sqrt(2.0)
    offs = spark.createDataFrame(
        [(dx, dy, diag if dx != 0 and dy != 0 else res) for dx, dy in _OFFS8],
        "dx int, dy int, dist double",
    )
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    scattered = src.crossJoin(F.broadcast(offs)).select(
        (F.col("row") - F.col("dy")).alias("row"),
        (F.col("col") - F.col("dx")).alias("col"),
        F.col("value").alias("zn"),
        "dist",
    )
    return scattered.join(
        src.withColumnRenamed("value", "center"), ["row", "col"]
    ).select("row", "col", "center", "zn", "dist")


def _nbr8_cte(source_sql: str, res: float) -> str:
    diag = res * math.sqrt(2.0)
    offs = ", ".join(
        f"({dx}, {dy}, {diag if dx != 0 and dy != 0 else float(res)!r})"
        for dx, dy in _OFFS8
    )
    return f"""
src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
offs(dx, dy, dist) AS (VALUES {offs}),
m AS (
  SELECT c.row, c.col, c.value AS center, s.zn, s.dist
  FROM src c JOIN (SELECT s0.row - o.dy AS row, s0.col - o.dx AS col,
                          s0.value AS zn, o.dist
                   FROM src s0 CROSS JOIN offs o) s
    ON c.row = s.row AND c.col = s.col
)"""


def num_downslope_neighbours(cells: DataFrame) -> DataFrame:
    m = _nbr8(cells, 1.0)
    out = m.groupBy("row", "col").agg(
        F.sum(F.when(F.col("zn") < F.col("center"), 1).otherwise(0))
        .cast("double").alias("value")
    )
    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    return src.join(out, ["row", "col"], "left").select(
        "row", "col", F.coalesce(F.col("value"), F.lit(0.0)).alias("value")
    )


def num_upslope_neighbours(cells: DataFrame) -> DataFrame:
    m = _nbr8(cells, 1.0)
    out = m.groupBy("row", "col").agg(
        F.sum(F.when(F.col("zn") > F.col("center"), 1).otherwise(0))
        .cast("double").alias("value")
    )
    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    return src.join(out, ["row", "col"], "left").select(
        "row", "col", F.coalesce(F.col("value"), F.lit(0.0)).alias("value")
    )


def num_neighbours_oracle_sql(source_sql: str, *, direction: str) -> str:
    cmp = "<" if direction == "down" else ">"
    return f"""
WITH {_nbr8_cte(source_sql, 1.0)},
agg AS (
  SELECT row, col,
         CAST(sum(CASE WHEN zn {cmp} center THEN 1 ELSE 0 END) AS DOUBLE) AS value
  FROM m GROUP BY row, col
)
SELECT s.row, s.col, coalesce(a.value, 0.0) AS value
FROM src s LEFT JOIN agg a ON a.row = s.row AND a.col = s.col
"""


def _elev_change(cells: DataFrame, res: float, mode: str) -> DataFrame:
    m = _nbr8(cells, res)
    if mode == "max_down":
        cand = m.filter(F.col("zn") < F.col("center")).select(
            "row", "col",
            ((F.col("center") - F.col("zn")) / F.col("dist")).alias("s"),
            (F.col("center") - F.col("zn")).alias("zc"),
        )
        pick = F.max(F.struct(F.col("s"), F.col("zc"))).getField("zc")
    elif mode == "max_up":
        cand = m.filter(F.col("zn") > F.col("center")).select(
            "row", "col",
            ((F.col("zn") - F.col("center")) / F.col("dist")).alias("s"),
            (F.col("zn") - F.col("center")).alias("zc"),
        )
        pick = F.max(F.struct(F.col("s"), F.col("zc"))).getField("zc")
    else:  # min_down: gentlest non-negative downslope
        cand = m.filter(F.col("zn") <= F.col("center")).select(
            "row", "col",
            ((F.col("center") - F.col("zn")) / F.col("dist")).alias("s"),
            (F.col("center") - F.col("zn")).alias("zc"),
        )
        pick = F.min(F.struct(F.col("s"), F.col("zc"))).getField("zc")
    out = cand.groupBy("row", "col").agg(pick.alias("value"))
    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    return src.join(out, ["row", "col"], "left").select(
        "row", "col", F.coalesce(F.col("value"), F.lit(0.0)).alias("value")
    )


def max_downslope_elev_change(cells: DataFrame, *, res: float = 1.0) -> DataFrame:
    return _elev_change(cells, res, "max_down")


def min_downslope_elev_change(cells: DataFrame, *, res: float = 1.0) -> DataFrame:
    return _elev_change(cells, res, "min_down")


def max_upslope_elev_change(cells: DataFrame, *, res: float = 1.0) -> DataFrame:
    return _elev_change(cells, res, "max_up")


def elev_change_oracle_sql(source_sql: str, *, res: float = 1.0, mode: str) -> str:
    if mode == "max_down":
        flt, s, zc, agg = "zn < center", "(center - zn) / dist", "center - zn", "max"
    elif mode == "max_up":
        flt, s, zc, agg = "zn > center", "(zn - center) / dist", "zn - center", "max"
    else:
        flt, s, zc, agg = "zn <= center", "(center - zn) / dist", "center - zn", "min"
    return f"""
WITH {_nbr8_cte(source_sql, res)},
cand AS (SELECT row, col, {s} AS s, {zc} AS zc FROM m WHERE {flt}),
agg AS (
  SELECT row, col, {agg}(struct_pack(s := s, zc := zc)) AS pick
  FROM cand GROUP BY row, col
)
SELECT sr.row, sr.col, coalesce(a.pick.zc, 0.0) AS value
FROM src sr LEFT JOIN agg a ON a.row = sr.row AND a.col = sr.col
"""


# 8-neighbor gather in the reference's dx/dy slot order
# dx=[1,1,1,0,-1,-1,-1,0], dy=[-1,0,1,1,1,0,-1,-1] with nodata -> center.
_SLOT_DX = [1, 1, 1, 0, -1, -1, -1, 0]
_SLOT_DY = [-1, 0, 1, 1, 1, 0, -1, -1]


def _gather8(cells: DataFrame) -> DataFrame:
    """-> (row, col, z, n0..n7) with missing neighbors coalesced to z."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select(
        "row", "col", F.col("value").alias("z")
    )
    offs = spark.createDataFrame(
        [(i, _SLOT_DX[i], _SLOT_DY[i]) for i in range(8)], "i int, dx int, dy int"
    )
    scattered = (
        src.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "i", F.col("z").alias("zn"),
        )
        .groupBy("row", "col")
        .agg(*[F.max(F.when(F.col("i") == i, F.col("zn"))).alias(f"_n{i}") for i in range(8)])
    )
    out = src.join(scattered, ["row", "col"], "left")
    for i in range(8):
        out = out.withColumn(f"n{i}", F.coalesce(F.col(f"_n{i}"), F.col("z")))
    return out.drop(*[f"_n{i}" for i in range(8)])


def _gather8_cte(source_sql: str) -> str:
    offs = ", ".join(f"({i}, {_SLOT_DX[i]}, {_SLOT_DY[i]})" for i in range(8))
    ncols = ",\n  ".join(
        f"coalesce(max(CASE WHEN s.i = {i} THEN s.zn END), any_value(c.z)) AS n{i}"
        for i in range(8)
    )
    return f"""
src AS (SELECT row, col, value AS z FROM ({source_sql}) WHERE value IS NOT NULL),
offs(i, dx, dy) AS (VALUES {offs}),
g AS (
  SELECT c.row, c.col, any_value(c.z) AS z,
  {ncols}
  FROM src c
  LEFT JOIN (SELECT s0.row - o.dy AS row, s0.col - o.dx AS col, o.i, s0.z AS zn
             FROM src s0 CROSS JOIN offs o) s
    ON c.row = s.row AND c.col = s.col
  GROUP BY c.row, c.col
)"""


def _pennock_case_sql(res: float, slope_t: float, prof_t: float, plan_t: float) -> str:
    c2 = 2.0 * res
    c_sq = res * res
    c4 = 4.0 * res * res
    e8 = 8.0 * res
    defs = f"""
  (n1 - n5) / {c2!r} AS zx, (n7 - n3) / {c2!r} AS zy,
  (n1 - 2.0 * z + n5) / {c_sq!r} AS zxx, (n7 - 2.0 * z + n3) / {c_sq!r} AS zyy,
  (-n6 + n0 + n4 - n2) / {c4!r} AS zxy,
  (n2 - n4 + 2.0 * (n1 - n5) + n0 - n6) / {e8!r} AS fx,
  (n6 - n4 + 2.0 * (n7 - n3) + n0 - n2) / {e8!r} AS fy
"""
    cls = f"""
  CASE WHEN p <= 0.0 THEN NULL
       WHEN prof < -{prof_t!r} AND plan <= -{plan_t!r} AND slope > {slope_t!r} THEN 1.0
       WHEN prof < -{prof_t!r} AND plan >  {plan_t!r} AND slope > {slope_t!r} THEN 2.0
       WHEN prof >  {prof_t!r} AND plan <= {plan_t!r} AND slope > {slope_t!r} THEN 3.0
       WHEN prof >  {prof_t!r} AND plan >  {plan_t!r} AND slope > {slope_t!r} THEN 4.0
       WHEN prof >= -{prof_t!r} AND prof < {prof_t!r} AND slope > {slope_t!r}
            AND plan <= -{plan_t!r} THEN 5.0
       WHEN prof >= -{prof_t!r} AND prof < {prof_t!r} AND slope > {slope_t!r}
            AND plan > {plan_t!r} THEN 6.0
       WHEN slope <= {slope_t!r} THEN 7.0
       ELSE NULL END
"""
    return defs, cls


def pennock_landform_class(
    cells: DataFrame, *, res: float, slope_threshold: float = 3.0,
    prof_threshold: float = 0.1, plan_threshold: float = 0.0,
) -> DataFrame:
    """PennockLandformClass (terrain_analysis/pennock_landform_class.rs:
    380-462): 7-class slope/curvature classification (1=CFS, 2=DFS, 3=CSH,
    4=DSH, 5=CBS, 6=DBS, 7=Level), NULL where the gradient is flat
    (p = 0, unclassifiable in the reference too). -> (row, col, value)."""
    g = _gather8(cells)
    defs, cls = _pennock_case_sql(res, slope_threshold, prof_threshold, plan_threshold)
    items = [d.strip() for d in defs.replace("\n", " ").split(",") if d.strip()]
    mid = g.selectExpr("row", "col", "z", *items)
    mid = mid.selectExpr(
        "row", "col",
        "zx * zx + zy * zy AS p",
        "zx * zx + zy * zy + 1.0 AS q",
        "zxx", "zyy", "zxy", "zx", "zy", "fx", "fy",
    ).selectExpr(
        "row", "col", "p",
        "degrees(atan(sqrt(fx * fx + fy * fy))) AS slope",
        "-degrees((zxx * zy * zy - 2.0 * zxy * zx * zy + zyy * zx * zx)"
        " / (p * power(q, 1.5))) AS plan",
        "-degrees((zxx * zx * zx - 2.0 * zxy * zx * zy + zyy * zy * zy)"
        " / (p * power(q, 1.5))) AS prof",
    )
    return mid.selectExpr("row", "col", f"{cls} AS value")


def pennock_oracle_sql(
    source_sql: str, *, res: float, slope_threshold: float = 3.0,
    prof_threshold: float = 0.1, plan_threshold: float = 0.0,
) -> str:
    defs, cls = _pennock_case_sql(res, slope_threshold, prof_threshold, plan_threshold)
    return f"""
WITH {_gather8_cte(source_sql)},
d AS (SELECT row, col, z, {defs} FROM g),
pq AS (SELECT row, col, zx * zx + zy * zy AS p, zx * zx + zy * zy + 1.0 AS q,
              zxx, zyy, zxy, zx, zy, fx, fy FROM d),
spp AS (SELECT row, col, p,
               degrees(atan(sqrt(fx * fx + fy * fy))) AS slope,
               -degrees((zxx * zy * zy - 2.0 * zxy * zx * zy + zyy * zx * zx)
                        / (p * power(q, 1.5))) AS plan,
               -degrees((zxx * zx * zx - 2.0 * zxy * zx * zy + zyy * zy * zy)
                        / (p * power(q, 1.5))) AS prof
        FROM pq)
SELECT row, col, {cls} AS value FROM spp
"""


def circular_variance_of_aspect(
    cells: DataFrame, *, res: float, filterx: int = 3, filtery: int = 3
) -> DataFrame:
    """CircularVarianceOfAspect (terrain_analysis/
    circular_variance_of_aspect.rs:512-640, WITHOUT the reference's
    Gaussian pre-smoothing — compose a filter first if wanted): per cell
    the unit aspect vector (fx, fy)/|grad| (zero when fx == 0, the
    reference's flat flag), then over the window variance = 1 - R/n with
    R = |sum of unit vectors|, n = count of non-flat members; NULL when
    n = 0. -> (row, col, value)."""
    e8 = 8.0 * res
    g = _gather8(cells)
    g = g.selectExpr(
        "row", "col",
        f"(n2 - n4 + 2.0 * (n1 - n5) + n0 - n6) / {e8!r} AS fx",
        f"(n6 - n4 + 2.0 * (n7 - n3) + n0 - n2) / {e8!r} AS fy",
    ).selectExpr(
        "row", "col",
        "CASE WHEN fx <> 0.0 THEN fx / sqrt(fx * fx + fy * fy) ELSE 0.0 END AS ux",
        "CASE WHEN fx <> 0.0 THEN fy / sqrt(fx * fx + fy * fy) ELSE 0.0 END AS uy",
    )
    spark = cells.sparkSession
    mx, my = filterx // 2, filtery // 2
    offs = spark.createDataFrame(
        [(dx, dy) for dx in range(-mx, mx + 1) for dy in range(-my, my + 1)],
        "dx int, dy int",
    )
    scattered = g.crossJoin(F.broadcast(offs)).select(
        (F.col("row") - F.col("dy")).alias("row"),
        (F.col("col") - F.col("dx")).alias("col"),
        "ux", "uy",
    )
    centers = g.select("row", "col")
    agg = scattered.join(centers, ["row", "col"]).groupBy("row", "col").agg(
        F.sum("ux").alias("sx"), F.sum("uy").alias("sy"),
        F.sum(
            F.when((F.col("ux") != 0.0) | (F.col("uy") != 0.0), 1.0).otherwise(0.0)
        ).alias("n"),
    )
    return agg.select(
        "row", "col",
        F.when(
            F.col("n") > 0.0,
            F.lit(1.0) - F.sqrt(F.col("sx") ** 2 + F.col("sy") ** 2) / F.col("n"),
        ).alias("value"),
    )


def circular_variance_oracle_sql(
    source_sql: str, *, res: float, filterx: int = 3, filtery: int = 3
) -> str:
    e8 = 8.0 * res
    mx, my = filterx // 2, filtery // 2
    offs = ", ".join(
        f"({dx}, {dy})" for dx in range(-mx, mx + 1) for dy in range(-my, my + 1)
    )
    return f"""
WITH {_gather8_cte(source_sql)},
grad AS (
  SELECT row, col,
         (n2 - n4 + 2.0 * (n1 - n5) + n0 - n6) / {e8!r} AS fx,
         (n6 - n4 + 2.0 * (n7 - n3) + n0 - n2) / {e8!r} AS fy
  FROM g
),
u AS (
  SELECT row, col,
         CASE WHEN fx <> 0.0 THEN fx / sqrt(fx * fx + fy * fy) ELSE 0.0 END AS ux,
         CASE WHEN fx <> 0.0 THEN fy / sqrt(fx * fx + fy * fy) ELSE 0.0 END AS uy
  FROM grad
),
w(dx, dy) AS (VALUES {offs}),
agg AS (
  SELECT c.row, c.col, sum(s.ux) AS sx, sum(s.uy) AS sy,
         sum(CASE WHEN s.ux <> 0.0 OR s.uy <> 0.0 THEN 1.0 ELSE 0.0 END) AS n
  FROM u c JOIN (SELECT u0.row - o.dy AS row, u0.col - o.dx AS col, u0.ux, u0.uy
                 FROM u u0 CROSS JOIN w o) s
    ON c.row = s.row AND c.col = s.col
  GROUP BY c.row, c.col
)
SELECT row, col,
       CASE WHEN n > 0.0 THEN 1.0 - sqrt(sx * sx + sy * sy) / n END AS value
FROM agg
"""


def relative_topographic_position(
    cells: DataFrame, *, filterx: int = 3, filtery: int = 3
) -> DataFrame:
    """RelativeTopographicPosition (terrain_analysis/
    relative_topographic_position.rs:390-415): (z-mean)/(mean-min) below
    the window mean, (z-mean)/(max-mean) above it, 0 for flat windows.
    -> (row, col, value) in [-1, 1].

    Engine-invariant by construction: every window statistic is computed on
    exact scaled integers (zi = round(z*1e6) as bigint; integer sums are
    associative, so the window mean is the exact rational sum/n in every
    engine and partitioning), the branch compares are integer compares
    (z < mean  <=>  zi*n < sum), and the ratio is quantized to 6 dp with
    integer round-half-away (q = (2*1e6*|num| + den) div (2*den), den > 0)
    before the single float op — q/1e6.0, a correctly-rounded IEEE division
    of exact integers, bit-identical across engines.  This replaced a 9-dp
    float quantization that still driver-diverged (VERDICT r03 item 1)."""
    from whitebox_tools_spark.operators.focal import _scatter_with_center

    m = _scatter_with_center(cells, filterx=filterx, filtery=filtery)
    vi = F.round(F.col("value") * 1e6, 0).cast("long")
    agg = m.groupBy("row", "col").agg(
        F.round(F.any_value("center") * 1e6, 0).cast("long").alias("zi"),
        F.sum(vi).alias("s"),
        F.count(F.lit(1)).alias("n"),
        F.min(vi).alias("mni"),
        F.max(vi).alias("mxi"),
    )
    num = F.col("zi") * F.col("n") - F.col("s")      # (z - mean) * n * 1e6
    dlo = F.col("s") - F.col("mni") * F.col("n")     # (mean - mn) * n * 1e6
    dhi = F.col("mxi") * F.col("n") - F.col("s")     # (mx - mean) * n * 1e6
    q_lo = F.expr("(2000000 * (s - zi * n) + (s - mni * n)) div (2 * (s - mni * n))")
    q_hi = F.expr("(2000000 * (zi * n - s) + (mxi * n - s)) div (2 * (mxi * n - s))")
    return agg.select(
        "row", "col",
        F.when(num < 0, -q_lo / F.lit(1e6))
        .when(dhi > 0, q_hi / F.lit(1e6))
        .otherwise(F.lit(0.0))
        .alias("value"),
    )


def rtp_oracle_sql(source_sql: str, *, filterx: int = 3, filtery: int = 3) -> str:
    from whitebox_tools_spark.operators.focal import _member_cte

    return f"""
WITH {_member_cte(source_sql, filterx=filterx, filtery=filtery)},
agg AS (
  SELECT row, col,
         CAST(round(any_value(center) * 1e6) AS BIGINT) AS zi,
         sum(CAST(round(value * 1e6) AS BIGINT)) AS s,
         count(*) AS n,
         min(CAST(round(value * 1e6) AS BIGINT)) AS mni,
         max(CAST(round(value * 1e6) AS BIGINT)) AS mxi
  FROM m GROUP BY row, col
)
SELECT row, col,
       CASE WHEN zi * n - s < 0
              THEN -(((2000000 * (s - zi * n) + (s - mni * n))
                      // (2 * (s - mni * n))) / 1e6)
            WHEN mxi * n - s > 0
              THEN ((2000000 * (zi * n - s) + (mxi * n - s))
                    // (2 * (mxi * n - s))) / 1e6
            ELSE 0.0 END AS value
FROM agg
"""


def extract_valleys(cells: DataFrame, *, variant: str = "JandR") -> DataFrame:
    """ExtractValleys (stream_network_analysis/extract_valleys.rs):
    - JandR (Johnston & Rosenfeld 1975): cell = 1 when BOTH the north and
      south neighbors are higher, or both east and west are (3x3 pass).
    - PandD (Peucker & Douglas 1975, :456-486): for every 2x2 group the
      highest member is flagged (ties prefer the group's bottom-right
      anchor, then upper-left, upper, left — the reference's scan order);
      cells never flagged in any group = 1, flagged = 0.
    No line-thinning post-pass. -> (row, col, value)."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    if variant == "JandR":
        g = _gather8(cells)  # n1=E, n5=W, n7=N, n3=S in slot order
        cond = (
            (F.col("n7") > F.col("z")) & (F.col("n3") > F.col("z"))
        ) | ((F.col("n1") > F.col("z")) & (F.col("n5") > F.col("z")))
        return g.select(
            "row", "col", F.when(cond, 1.0).otherwise(0.0).alias("value")
        )
    # PandD: members of the 2x2 anchored at (row, col): offsets and their
    # tie priorities (center 3 > (-1,-1) 2 > (0,-1) 1 > (-1,0) 0)
    offs = [(0, 0, 3), (-1, -1, 2), (0, -1, 1), (-1, 0, 0)]
    odf = spark.createDataFrame(offs, "dx int, dy int, prio int")
    members = (
        src.crossJoin(F.broadcast(odf))
        .select(
            (F.col("row") - F.col("dy")).alias("arow"),
            (F.col("col") - F.col("dx")).alias("acol"),
            "row", "col", "value", "prio",
        )
    )
    anchors = src.select(F.col("row").alias("arow"), F.col("col").alias("acol"))
    win = (
        members.join(anchors, ["arow", "acol"])
        .groupBy("arow", "acol")
        .agg(
            F.max(
                F.struct(
                    F.col("value").alias("z"), F.col("prio").alias("p"),
                    F.col("row").alias("r"), F.col("col").alias("c"),
                )
            ).alias("w")
        )
        .select(F.col("w.r").alias("row"), F.col("w.c").alias("col"))
        .distinct()
    )
    return src.join(win.withColumn("__f", F.lit(1)), ["row", "col"], "left").select(
        "row", "col",
        F.when(F.col("__f").isNotNull(), 0.0).otherwise(1.0).alias("value"),
    )


def extract_valleys_oracle_sql(source_sql: str, *, variant: str = "JandR") -> str:
    if variant == "JandR":
        return f"""
WITH {_gather8_cte(source_sql)}
SELECT row, col,
       CASE WHEN (n7 > z AND n3 > z) OR (n1 > z AND n5 > z)
            THEN 1.0 ELSE 0.0 END AS value
FROM g
"""
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
offs(dx, dy, prio) AS (VALUES (0, 0, 3), (-1, -1, 2), (0, -1, 1), (-1, 0, 0)),
members AS (
  SELECT s.row - o.dy AS arow, s.col - o.dx AS acol,
         s.row, s.col, s.value, o.prio
  FROM src s CROSS JOIN offs o
),
win AS (
  SELECT DISTINCT (max(struct_pack(z := m.value, p := m.prio,
                                   r := m.row, c := m.col))).r AS row,
         (max(struct_pack(z := m.value, p := m.prio, r := m.row, c := m.col))).c AS col
  FROM members m JOIN src a ON a.row = m.arow AND a.col = m.acol
  GROUP BY m.arow, m.acol
)
SELECT s.row, s.col,
       CASE WHEN w.row IS NOT NULL THEN 0.0 ELSE 1.0 END AS value
FROM src s LEFT JOIN win w ON w.row = s.row AND w.col = s.col
"""


# Jenness (2004) 3x3 ordering: row-major indices 0..8, center = 4.
_J_DX = [-1, 0, 1, -1, 0, 1, -1, 0, 1]
_J_DY = [-1, -1, -1, 0, 0, 0, 1, 1, 1]
_J_DIST_PAIRS = [
    (0, 1), (1, 2), (3, 4), (4, 5), (6, 7), (7, 8),
    (0, 3), (1, 4), (2, 5), (3, 6), (4, 7), (5, 8),
    (4, 0), (4, 2), (4, 6), (4, 8),
]
_J_TRIANGLES = [
    (0, 7, 12), (1, 7, 13), (2, 6, 12), (3, 8, 13),
    (2, 9, 14), (3, 11, 15), (4, 10, 14), (5, 10, 15),
]


def _sar_formula_sql(res_x: float, res_y: float) -> str:
    """The shared surface-area-ratio expression over columns j0..j8
    (NULL = missing/nodata); j4 is the center (always non-null)."""
    diag = math.sqrt(res_x * res_x + res_y * res_y)
    planar = [res_x] * 6 + [res_y] * 6 + [diag] * 4
    dists = []
    for c, (a, b) in enumerate(_J_DIST_PAIRS):
        dp = planar[c]
        dists.append(
            f"(CASE WHEN j{a} IS NOT NULL AND j{b} IS NOT NULL "
            f"THEN sqrt({dp * dp!r} + (j{a} - j{b}) * (j{a} - j{b})) / 2.0 "
            f"ELSE 0.0 END)"
        )
    cell_area = res_x * res_y
    eighth = cell_area / 8.0
    tri_areas = []
    tri_missing = []
    for (p_, q_, r_) in _J_TRIANGLES:
        p, q, r = dists[p_], dists[q_], dists[r_]
        s = f"(({p} + {q} + {r}) / 2.0)"
        tri_areas.append(
            f"(CASE WHEN {p} * {q} * {r} <> 0.0 "
            f"THEN sqrt({s} * ({s} - {p}) * ({s} - {q}) * ({s} - {r})) ELSE 0.0 END)"
        )
        tri_missing.append(
            f"(CASE WHEN {p} * {q} * {r} <> 0.0 THEN 0.0 ELSE {eighth!r} END)"
        )
    area = " + ".join(tri_areas)
    missing = " + ".join(tri_missing)
    return (
        f"CASE WHEN {cell_area!r} - ({missing}) > 0.0 "
        f"THEN ({area}) / ({cell_area!r} - ({missing})) END"
    )


def surface_area_ratio(
    cells: DataFrame, *, res_x: float, res_y: float
) -> DataFrame:
    """SurfaceAreaRatio (terrain_analysis/surface_area_ratio.rs:215-330,
    Jenness 2004): the eight triangular facet areas (Heron, half-distances)
    over the planar cell area, shrunk by 1/8 per facet with a missing
    vertex; NULL when all facets are missing. One 3x3 gather + one shared
    SQL formula. -> (row, col, value)."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offs = spark.createDataFrame(
        [(i, _J_DX[i], _J_DY[i]) for i in range(9)], "i int, dx int, dy int"
    )
    piv = (
        src.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "i", F.col("value").alias("zn"),
        )
        .groupBy("row", "col")
        .agg(*[F.max(F.when(F.col("i") == i, F.col("zn"))).alias(f"j{i}") for i in range(9)])
    )
    g = src.select("row", "col").join(piv, ["row", "col"], "left")
    return g.selectExpr("row", "col", f"{_sar_formula_sql(res_x, res_y)} AS value")


def surface_area_ratio_oracle_sql(
    source_sql: str, *, res_x: float, res_y: float
) -> str:
    offs = ", ".join(f"({i}, {_J_DX[i]}, {_J_DY[i]})" for i in range(9))
    jcols = ",\n  ".join(
        f"max(CASE WHEN s.i = {i} THEN s.zn END) AS j{i}" for i in range(9)
    )
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
offs(i, dx, dy) AS (VALUES {offs}),
g AS (
  SELECT c.row, c.col,
  {jcols}
  FROM src c
  LEFT JOIN (SELECT s0.row - o.dy AS row, s0.col - o.dx AS col, o.i,
                    s0.value AS zn
             FROM src s0 CROSS JOIN offs o) s
    ON c.row = s.row AND c.col = s.col
  GROUP BY c.row, c.col
)
SELECT row, col, {_sar_formula_sql(res_x, res_y)} AS value FROM g
"""


def find_ridges(cells: DataFrame) -> DataFrame:
    """FindRidges (terrain_analysis/find_ridges.rs:225-245, no line
    thinning): 1 where both N and S neighbors are valid and lower, or both
    E and W are; else 0. -> (row, col, value)."""
    g = _gather8(cells)  # slots: n1=E, n5=W, n7=N, n3=S; missing -> center
    cond = (
        (F.col("n7") < F.col("z")) & (F.col("n3") < F.col("z"))
    ) | ((F.col("n1") < F.col("z")) & (F.col("n5") < F.col("z")))
    return g.select("row", "col", F.when(cond, 1.0).otherwise(0.0).alias("value"))


def find_ridges_oracle_sql(source_sql: str) -> str:
    return f"""
WITH {_gather8_cte(source_sql)}
SELECT row, col,
       CASE WHEN (n7 < z AND n3 < z) OR (n1 < z AND n5 < z)
            THEN 1.0 ELSE 0.0 END AS value
FROM g
"""


# Jasiewicz & Stepinski (2013) geomorphon forms lookup,
# classes[count_neg][count_pos] (geomorphons.rs:543-554), flattened row-major.
_GEOMORPHON_CLASSES = [
    1, 1, 1, 8, 8, 9, 9, 9, 10,
    1, 1, 8, 8, 8, 9, 9, 9, 0,
    1, 4, 6, 6, 7, 7, 9, 0, 0,
    4, 4, 6, 6, 6, 7, 0, 0, 0,
    4, 4, 5, 6, 6, 0, 0, 0, 0,
    3, 3, 5, 5, 0, 0, 0, 0, 0,
    3, 3, 3, 0, 0, 0, 0, 0, 0,
    3, 3, 0, 0, 0, 0, 0, 0, 0,
    2, 0, 0, 0, 0, 0, 0, 0, 0,
]


def geomorphons(
    cells: DataFrame, *, res: float, search_cells: int = 10,
    flat_threshold_deg: float = 1.0,
) -> DataFrame:
    """Geomorphons forms mode (terrain_analysis/geomorphons.rs:600-670):
    per cell, 8 compass line-of-sight profiles (skip 1, distance <
    search_cells * res) give zenith (max) and nadir (min) elevation
    angles; each direction contributes +1 when |nadir| < |zenith| (and
    either exceeds the flatness threshold), -1 when greater; the (count-,
    count+) pair indexes the 10-landform lookup. Cells within 1 cell of
    the raster's bounding box (the reference's edge buffer) and cells
    with all-flat profiles return 1 (Flat). The 8 profiles are FOUR
    grouped self-joins (row / column / diagonal / anti-diagonal bands) —
    no per-cell ray loops. -> (row, col, value)."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    L = float(search_cells) * res
    diag = res * math.sqrt(2.0)
    thresh = math.radians(flat_threshold_deg)

    a = src.select(
        F.col("row").alias("r"), F.col("col").alias("c"), F.col("value").alias("z")
    )
    b = src.select(
        F.col("row").alias("r2"), F.col("col").alias("c2"), F.col("value").alias("z2")
    )

    def fam(cond, dir_pos, dir_neg, key, dist_expr):
        j = a.join(b, cond)
        d = dist_expr
        j = j.filter((d > 0.0) & (d < L))
        direction = F.when(key > 0, F.lit(dir_pos)).otherwise(F.lit(dir_neg))
        return j.select(
            "r", "c",
            direction.alias("dir"),
            F.atan2(F.col("z2") - F.col("z"), d).alias("ang"),
        )

    dc = F.col("c2") - F.col("c")
    dr = F.col("r2") - F.col("r")
    fams = [
        fam((a["r"] == b["r2"]) & (a["c"] != b["c2"]), 2, 6, dc,
            F.abs(dc).cast("double") * res),
        fam((a["c"] == b["c2"]) & (a["r"] != b["r2"]), 4, 0, dr,
            F.abs(dr).cast("double") * res),
        fam((dr == dc) & (dr != 0), 3, 7, dr, F.abs(dr).cast("double") * diag),
        fam((dr == -dc) & (dr != 0), 5, 1, dr, F.abs(dr).cast("double") * diag),
    ]
    u = fams[0]
    for f_ in fams[1:]:
        u = u.unionByName(f_)
    per_dir = u.groupBy("r", "c", "dir").agg(
        F.max("ang").alias("zen"), F.min("ang").alias("nad")
    )
    sig = per_dir.select(
        "r", "c",
        F.when(
            (F.abs(F.col("zen")) > thresh) | (F.abs(F.col("nad")) > thresh),
            F.when(F.abs(F.col("nad")) < F.abs(F.col("zen")), 1)
            .when(F.abs(F.col("nad")) > F.abs(F.col("zen")), -1)
            .otherwise(0),
        ).otherwise(0).alias("s"),
    )
    counts = sig.groupBy("r", "c").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).alias("cn"),
    )
    bounds = src.agg(
        F.min("row").alias("r0"), F.max("row").alias("r1"),
        F.min("col").alias("c0"), F.max("col").alias("c1"),
    )
    lut = F.array(*[F.lit(float(v)) for v in _GEOMORPHON_CLASSES])
    out = (
        src.join(
            counts.select(F.col("r").alias("row"), F.col("c").alias("col"), "cp", "cn"),
            ["row", "col"], "left",
        )
        .crossJoin(F.broadcast(bounds))
    )
    interior = (
        (F.col("row") > F.col("r0")) & (F.col("row") < F.col("r1"))
        & (F.col("col") > F.col("c0")) & (F.col("col") < F.col("c1"))
    )
    idx = F.coalesce(F.col("cn"), F.lit(0)) * 9 + F.coalesce(F.col("cp"), F.lit(0)) + 1
    return out.select(
        "row", "col",
        F.when(interior, F.element_at(lut, idx.cast("int"))).otherwise(F.lit(1.0))
        .alias("value"),
    )


def geomorphons_oracle_sql(
    source_sql: str, *, res: float, search_cells: int = 10,
    flat_threshold_deg: float = 1.0,
) -> str:
    L = float(search_cells) * res
    diag = res * math.sqrt(2.0)
    thresh = math.radians(flat_threshold_deg)
    lut = "[" + ", ".join(repr(float(v)) for v in _GEOMORPHON_CLASSES) + "]"
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) t WHERE value IS NOT NULL),
pairs AS (
  SELECT a.row AS r, a.col AS c,
         CASE WHEN b.row = a.row THEN (CASE WHEN b.col > a.col THEN 2 ELSE 6 END)
              WHEN b.col = a.col THEN (CASE WHEN b.row > a.row THEN 4 ELSE 0 END)
              WHEN b.row - a.row = b.col - a.col
                   THEN (CASE WHEN b.row > a.row THEN 3 ELSE 7 END)
              ELSE (CASE WHEN b.row > a.row THEN 5 ELSE 1 END) END AS dir,
         atan2(b.value - a.value,
               CASE WHEN b.row = a.row THEN abs(b.col - a.col) * {res!r}
                    WHEN b.col = a.col THEN abs(b.row - a.row) * {res!r}
                    ELSE abs(b.row - a.row) * {diag!r} END) AS ang,
         CASE WHEN b.row = a.row THEN abs(b.col - a.col) * {res!r}
              WHEN b.col = a.col THEN abs(b.row - a.row) * {res!r}
              ELSE abs(b.row - a.row) * {diag!r} END AS dist
  FROM src a JOIN src b
    ON (a.row = b.row AND a.col <> b.col)
    OR (a.col = b.col AND a.row <> b.row)
    OR (b.row - a.row = b.col - a.col AND a.row <> b.row)
    OR (b.row - a.row = -(b.col - a.col) AND a.row <> b.row)
),
per_dir AS (
  SELECT r, c, dir, max(ang) AS zen, min(ang) AS nad
  FROM pairs WHERE dist > 0.0 AND dist < {L!r}
  GROUP BY r, c, dir
),
sig AS (
  SELECT r, c,
         CASE WHEN abs(zen) > {thresh!r} OR abs(nad) > {thresh!r}
              THEN CASE WHEN abs(nad) < abs(zen) THEN 1
                        WHEN abs(nad) > abs(zen) THEN -1 ELSE 0 END
              ELSE 0 END AS s
  FROM per_dir
),
counts AS (
  SELECT r AS row, c AS col,
         sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS cp,
         sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS cn
  FROM sig GROUP BY r, c
),
bounds AS (SELECT min(row) AS r0, max(row) AS r1, min(col) AS c0, max(col) AS c1
           FROM src)
SELECT s.row, s.col,
       CASE WHEN s.row > b.r0 AND s.row < b.r1 AND s.col > b.c0 AND s.col < b.c1
            THEN list_extract({lut},
                   CAST(coalesce(ct.cn, 0) * 9 + coalesce(ct.cp, 0) + 1 AS BIGINT))
            ELSE 1.0 END AS value
FROM src s
LEFT JOIN counts ct ON ct.row = s.row AND ct.col = s.col
CROSS JOIN bounds b
"""


def extract_valleys_lq(
    cells: DataFrame, *, filterx: int = 5, filtery: int = 5
) -> DataFrame:
    """ExtractValleys 'lower quartile' variant (stream_network_analysis/
    extract_valleys.rs, Lindsay 2006): 1 where the cell sits in the lower
    quartile of its neighborhood's elevation distribution (exact
    percentile over a SQUARE window; the reference uses a circular one —
    documented deviation). -> (row, col, value)."""
    from whitebox_tools_spark.operators.focal import elev_percentile

    p = elev_percentile(cells, filterx=filterx, filtery=filtery)
    return p.select(
        "row", "col", F.when(F.col("value") < 25.0, 1.0).otherwise(0.0).alias("value")
    )


def extract_valleys_lq_oracle_sql(
    source_sql: str, *, filterx: int = 5, filtery: int = 5
) -> str:
    from whitebox_tools_spark.operators.focal import elev_percentile_oracle_sql

    inner = elev_percentile_oracle_sql(source_sql, filterx=filterx, filtery=filtery)
    return f"""
SELECT row, col, CASE WHEN value < 25.0 THEN 1.0 ELSE 0.0 END AS value
FROM ({inner}) t
"""


def slope_vs_elevation_plot(cells: DataFrame, grid, *, z_factor: float = 1.0) -> DataFrame:
    """SlopeVsElevationPlot (terrain_analysis/slope_vs_elev_plot.rs:
    290-400): the data series behind the reference's HTML plot — per
    elevation bin (width = range / max((max-min)/5, ceil(log2 n)+1)),
    the mean 3x3-Horn slope (degrees) of the bin's cells. The top-of-range
    cell is clamped into the last bin (the reference's unclamped floor
    indexes one past the array). -> (bin, elev, mean_slope, n)."""
    import math

    from whitebox_tools_spark.operators.multiscale import _normals

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    g8 = 8.0 * grid.res_x
    nrm = _normals(src, grid)  # na = -(fx*8res), nb = -(fy*8res)
    slope = nrm.select(
        "row", "col", "value",
        F.degrees(
            F.atan(
                F.sqrt(
                    (F.col("na") / g8) * (F.col("na") / g8)
                    + (F.col("nb") / g8) * (F.col("nb") / g8)
                )
            )
        ).alias("slope"),
    )
    st = src.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    num_bins = max(
        int(st.mx - st.mn) // 5, int(math.ceil(math.log2(st.n))) + 1
    )
    bw = (st.mx - st.mn) / num_bins
    b = F.least(
        F.floor((F.col("value") - F.lit(st.mn)) / F.lit(bw)).cast("long"),
        F.lit(num_bins - 1),
    )
    return (
        slope.withColumn("bin", b)
        .groupBy("bin")
        .agg(F.avg("slope").alias("mean_slope"), F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (F.lit(st.mn) + F.col("bin") * F.lit(bw)).alias("elev"),
            "mean_slope", "n",
        )
    )


def slope_vs_elevation_oracle_sql(source_sql: str, grid) -> str:
    dirs = ", ".join(
        f"({i}, {[1, 1, 1, 0, -1, -1, -1, 0][i]}, {[-1, 0, 1, 1, 1, 0, -1, -1][i]})"
        for i in range(8)
    )
    vs = ",\n".join(
        f"         max(CASE WHEN d.i = {i} THEN n.value END) AS v{i}"
        for i in range(8)
    )
    g8 = 8.0 * grid.res_x
    return f"""
WITH cells AS MATERIALIZED (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
nb AS (
  SELECT c.row, c.col, any_value(c.value) AS z,
{vs}
  FROM cells c
  CROSS JOIN (VALUES {dirs}) d(i, dx, dy)
  LEFT JOIN cells n ON n.row = c.row + d.dy AND n.col = c.col + d.dx
  GROUP BY c.row, c.col
),
sl AS (
  SELECT row, col, z AS value,
         degrees(atan(sqrt(
           ((coalesce(v2, z) - coalesce(v4, z) + 2.0 * (coalesce(v1, z) - coalesce(v5, z))
            + coalesce(v0, z) - coalesce(v6, z)) / {g8!r})
         * ((coalesce(v2, z) - coalesce(v4, z) + 2.0 * (coalesce(v1, z) - coalesce(v5, z))
            + coalesce(v0, z) - coalesce(v6, z)) / {g8!r})
         + ((coalesce(v6, z) - coalesce(v4, z) + 2.0 * (coalesce(v7, z) - coalesce(v3, z))
            + coalesce(v0, z) - coalesce(v2, z)) / {g8!r})
         * ((coalesce(v6, z) - coalesce(v4, z) + 2.0 * (coalesce(v7, z) - coalesce(v3, z))
            + coalesce(v0, z) - coalesce(v2, z)) / {g8!r})
         ))) AS slope
  FROM nb
),
st AS (
  SELECT min(value) AS mn, max(value) AS mx, count(*) AS n,
         greatest(CAST(floor(max(value) - min(value)) AS BIGINT) // 5,
                  CAST(ceil(log2(count(*))) AS BIGINT) + 1) AS num_bins
  FROM cells
)
SELECT b AS bin,
       mn + b * ((mx - mn) / num_bins) AS elev,
       avg(slope) AS mean_slope, count(*) AS n
FROM (
  SELECT s.slope,
         least(CAST(floor((s.value - st.mn) / ((st.mx - st.mn) / st.num_bins)) AS BIGINT),
               st.num_bins - 1) AS b,
         st.mn, st.mx, st.num_bins
  FROM sl s CROSS JOIN st
)
GROUP BY b, mn, mx, num_bins
"""


def contour_segments(
    cells: DataFrame, grid, *, interval: float = 10.0, base: float = 0.0
) -> DataFrame:
    """ContoursFromRaster (terrain_analysis/contours_from_raster.rs:174,
    366: cells are quantized to bands floor((z - base) / interval) and
    contours trace the band boundaries; smoothing/tolerance = 0 here).

    Emits the contour SEGMENT multiset on cell cracks: one segment per
    4-adjacent cell pair whose bands differ, per crossed level, with
    height = base + level * interval. Two equi-self-joins (right + down
    neighbor), sequence()+explode for multi-level crossings — all
    JVM-side, no UDF; the segment set is what the reference's crack
    follower stitches. -> (height, x1, y1, x2, y2)."""
    src = (
        cells.filter(F.col("value").isNotNull())
        .select(
            "row", "col",
            F.floor((F.col("value") - F.lit(base)) / F.lit(interval))
            .cast("long").alias("band"),
        )
    )
    nbr = src.select(
        F.col("row").alias("nrow"), F.col("col").alias("ncol"),
        F.col("band").alias("nband"),
    )
    segs = []
    for dr, dc in ((0, 1), (1, 0)):
        pair = src.join(
            nbr,
            (F.col("nrow") == F.col("row") + dr)
            & (F.col("ncol") == F.col("col") + dc),
        ).filter(F.col("band") != F.col("nband"))
        lo = F.least("band", "nband")
        hi = F.greatest("band", "nband")
        lev = pair.select(
            "row", "col",
            F.explode(F.sequence(lo + 1, hi)).alias("level"),
        )
        if dc == 1:  # shared VERTICAL edge at x = west + (col+1)*res_x
            x = F.lit(grid.west) + (F.col("col") + 1) * F.lit(grid.res_x)
            y1 = F.lit(grid.north) - F.col("row") * F.lit(grid.res_y)
            y2 = F.lit(grid.north) - (F.col("row") + 1) * F.lit(grid.res_y)
            seg = lev.select(
                (F.lit(base) + F.col("level") * F.lit(interval)).alias("height"),
                x.alias("x1"), y1.alias("y1"), x.alias("x2"), y2.alias("y2"),
            )
        else:  # shared HORIZONTAL edge at y = north - (row+1)*res_y
            y = F.lit(grid.north) - (F.col("row") + 1) * F.lit(grid.res_y)
            x1 = F.lit(grid.west) + F.col("col") * F.lit(grid.res_x)
            x2 = F.lit(grid.west) + (F.col("col") + 1) * F.lit(grid.res_x)
            seg = lev.select(
                (F.lit(base) + F.col("level") * F.lit(interval)).alias("height"),
                x1.alias("x1"), y.alias("y1"), x2.alias("x2"), y.alias("y2"),
            )
        segs.append(seg)
    return segs[0].unionByName(segs[1])


def contour_segments_oracle_sql(
    source_sql: str, grid, *, interval: float = 10.0, base: float = 0.0
) -> str:
    return f"""
WITH src AS (
  SELECT row, col,
         CAST(floor((value - {base!r}) / {interval!r}) AS BIGINT) AS band
  FROM ({source_sql}) WHERE value IS NOT NULL
),
vpair AS (
  SELECT a.row, a.col, a.band, b.band AS nband
  FROM src a JOIN src b ON b.row = a.row AND b.col = a.col + 1
  WHERE a.band <> b.band
),
hpair AS (
  SELECT a.row, a.col, a.band, b.band AS nband
  FROM src a JOIN src b ON b.row = a.row + 1 AND b.col = a.col
  WHERE a.band <> b.band
),
vseg AS (
  SELECT {base!r} + level * {interval!r} AS height,
         {grid.west!r} + (col + 1) * {grid.res_x!r} AS x1,
         {grid.north!r} - row * {grid.res_y!r} AS y1,
         {grid.west!r} + (col + 1) * {grid.res_x!r} AS x2,
         {grid.north!r} - (row + 1) * {grid.res_y!r} AS y2
  FROM vpair, unnest(generate_series(least(band, nband) + 1,
                                     greatest(band, nband))) AS t(level)
),
hseg AS (
  SELECT {base!r} + level * {interval!r} AS height,
         {grid.west!r} + col * {grid.res_x!r} AS x1,
         {grid.north!r} - (row + 1) * {grid.res_y!r} AS y1,
         {grid.west!r} + (col + 1) * {grid.res_x!r} AS x2,
         {grid.north!r} - (row + 1) * {grid.res_y!r} AS y2
  FROM hpair, unnest(generate_series(least(band, nband) + 1,
                                     greatest(band, nband))) AS t(level)
)
SELECT * FROM vseg UNION ALL SELECT * FROM hseg
"""


def contour_polylines(
    cells: DataFrame, grid, *, interval: float = 10.0, base: float = 0.0
) -> DataFrame:
    """ContoursFromRaster, stitched output: per height level, chain the
    crack segments into maximal polylines (closed loops around band
    regions; open chains ending at the raster border). Per-(height)
    applyInPandas stitcher over the segment multiset — contour levels
    partition the segment set, so the stitch parallelizes across levels
    (at continental scale, group by (height, coarse tile) and stitch
    tile-locally first). -> (height, part_idx, xs, ys)."""
    import numpy as np
    import pandas as pd

    segs = contour_segments(cells, grid, interval=interval, base=base)

    def _stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        height = float(pdf["height"].iloc[0])
        # endpoint adjacency over quantized coordinates
        def key(x, y):
            return (round(float(x), 9), round(float(y), 9))

        adj: dict = {}
        used = [False] * len(pdf)
        x1 = pdf["x1"].to_numpy(); y1 = pdf["y1"].to_numpy()
        x2 = pdf["x2"].to_numpy(); y2 = pdf["y2"].to_numpy()
        for i in range(len(pdf)):
            adj.setdefault(key(x1[i], y1[i]), []).append(i)
            adj.setdefault(key(x2[i], y2[i]), []).append(i)
        deg1 = [k for k, v in adj.items() if len(v) % 2 == 1]
        rows = []

        def walk(start_seg, start_pt):
            pts = [start_pt]
            i = start_seg
            cur = start_pt
            while True:
                used[i] = True
                a, b = key(x1[i], y1[i]), key(x2[i], y2[i])
                cur = b if cur == a else a
                pts.append(cur)
                nxt = [j for j in adj[cur] if not used[j]]
                if not nxt:
                    return pts
                i = min(nxt)

        part = 0
        # open chains first (start at odd-degree endpoints), then loops
        for k in sorted(deg1):
            for i in sorted(adj[k]):
                if not used[i]:
                    pts = walk(i, k)
                    rows.append((height, part, [p[0] for p in pts], [p[1] for p in pts]))
                    part += 1
        for i in range(len(pdf)):
            if not used[i]:
                pts = walk(i, key(x1[i], y1[i]))
                rows.append((height, part, [p[0] for p in pts], [p[1] for p in pts]))
                part += 1
        return pd.DataFrame(
            rows, columns=["height", "part_idx", "xs", "ys"]
        )

    return segs.groupBy("height").applyInPandas(
        _stitch,
        schema="height double, part_idx int, xs array<double>, ys array<double>",
    )


def profile(lines: DataFrame, dem: DataFrame, grid: GridSpec) -> DataFrame:
    """Profile (terrain_analysis/profile.rs:258-305): sample the DEM along
    each polyline at ~cell-size intervals. lines: (line_id, xs, ys) vertex
    arrays. Per segment (reference arithmetic, transcribed exactly):
    vertex cells (st/end row/col), path_dist in CELL units, num_steps =
    ceil(path_dist), steps j = 1..num_steps-1 sample cell
    (floor(st_col + j*dx), floor(st_row + j*dy)), distance advances by
    dist_step = map_len / path_dist per step (so the running distance is
    carried across segments); nodata samples advance distance but emit no
    row. -> (line_id, dist, z). One explode + one equi-join; the cumsum is
    a per-line window (lines are small; the DEM side stays distributed)."""
    spark = lines.sparkSession
    seg = lines.select(
        "line_id",
        F.posexplode(
            F.zip_with(
                F.slice(F.col("xs"), 1, F.size("xs") - 1),
                F.slice(F.col("ys"), 1, F.size("ys") - 1),
                lambda a, b: F.struct(a.alias("x0"), b.alias("y0")),
            )
        ).alias("i", "p0"),
        F.col("xs"), F.col("ys"),
    ).select(
        "line_id", "i",
        F.col("p0.x0").alias("x0"), F.col("p0.y0").alias("y0"),
        F.element_at(F.col("xs"), F.col("i") + 2).alias("x1"),
        F.element_at(F.col("ys"), F.col("i") + 2).alias("y1"),
    )
    seg = (
        seg.withColumns({
            "st_col": F.expr(grid.col_sql("x0")),
            "st_row": F.expr(grid.row_sql("y0")),
            "end_col": F.expr(grid.col_sql("x1")),
            "end_row": F.expr(grid.row_sql("y1")),
        })
        .withColumn("dxc", (F.col("end_col") - F.col("st_col")).cast("double"))
        .withColumn("dyc", (F.col("end_row") - F.col("st_row")).cast("double"))
        .withColumn("path", F.sqrt(F.col("dxc") ** 2 + F.col("dyc") ** 2))
        .withColumn("nsteps", F.ceil("path"))
        .withColumn(
            "dist_step",
            F.sqrt((F.col("x0") - F.col("x1")) ** 2 + (F.col("y0") - F.col("y1")) ** 2)
            / F.col("path"),
        )
        .withColumn(
            "contrib",
            F.when(F.col("nsteps") > 0,
                   (F.col("nsteps") - 1).cast("double") * F.col("dist_step"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "prefix",
            F.coalesce(
                F.sum("contrib").over(
                    Window.partitionBy("line_id").orderBy("i")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0.0),
            ),
        )
    )
    steps = seg.filter(F.col("nsteps") > 1).select(
        "line_id",
        "i",
        "st_col", "st_row", "dxc", "dyc", "path", "dist_step", "prefix",
        F.explode(F.sequence(F.lit(1), F.col("nsteps") - 1)).alias("j"),
    ).select(
        "line_id", "i", "j",
        F.floor(F.col("st_col") + F.col("j") * (F.col("dxc") / F.col("path"))).alias("col"),
        F.floor(F.col("st_row") + F.col("j") * (F.col("dyc") / F.col("path"))).alias("row"),
        (F.col("prefix") + F.col("j") * F.col("dist_step")).alias("dist"),
    )
    dem_v = dem.filter(F.col("value").isNotNull()).select("row", "col", F.col("value").alias("z"))
    return steps.join(dem_v, ["row", "col"]).select("line_id", "i", "j", "dist", "z")


def profile_oracle_sql(lines_sql: str, dem_sql: str, grid: GridSpec) -> str:
    """lines_sql: SELECT line_id, i (0-based segment), x0, y0, x1, y1."""
    return f"""
WITH seg0 AS ({lines_sql}),
seg AS (
  SELECT line_id, i, x0, y0, x1, y1,
         {grid.col_sql('x0')} AS st_col, {grid.row_sql('y0')} AS st_row,
         {grid.col_sql('x1')} AS end_col, {grid.row_sql('y1')} AS end_row
  FROM seg0
),
seg2 AS (
  SELECT *, CAST(end_col - st_col AS DOUBLE) AS dxc,
         CAST(end_row - st_row AS DOUBLE) AS dyc,
         sqrt(CAST(end_col - st_col AS DOUBLE) * CAST(end_col - st_col AS DOUBLE)
            + CAST(end_row - st_row AS DOUBLE) * CAST(end_row - st_row AS DOUBLE)) AS path,
         sqrt((x0 - x1) * (x0 - x1) + (y0 - y1) * (y0 - y1)) AS map_len
  FROM seg
),
seg3 AS (
  SELECT *, CAST(ceil(path) AS BIGINT) AS nsteps, map_len / path AS dist_step,
         CASE WHEN CAST(ceil(path) AS BIGINT) > 0
              THEN CAST(CAST(ceil(path) AS BIGINT) - 1 AS DOUBLE) * (map_len / path)
              ELSE 0.0 END AS contrib
  FROM seg2
),
seg4 AS (
  SELECT *, coalesce(SUM(contrib) OVER (PARTITION BY line_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS prefix
  FROM seg3
),
steps AS (
  SELECT line_id, i, j,
         CAST(floor(st_col + j * (dxc / path)) AS BIGINT) AS col,
         CAST(floor(st_row + j * (dyc / path)) AS BIGINT) AS row,
         prefix + j * dist_step AS dist
  FROM seg4, LATERAL unnest(generate_series(1, nsteps - 1)) AS t(j)
  WHERE nsteps > 1
),
dem AS (SELECT row, col, value AS z FROM ({dem_sql}) WHERE value IS NOT NULL)
SELECT s.line_id, s.i, s.j, round(s.dist, 6) AS dist, round(d.z, 6) AS z
FROM steps s JOIN dem d ON d.row = s.row AND d.col = s.col
"""


def remove_off_terrain_objects(
    cells: DataFrame,
    grid: GridSpec,
    *,
    filter_size: int = 11,
    slope_threshold: float = 15.0,
    max_iterations: int = 10_000,
) -> DataFrame:
    """RemoveOffTerrainObjects (terrain_analysis/
    remove_off_terrain_objects.rs:230-620, Lindsay 2018): white top-hat
    (opening = dilation(erosion) over the filter_size^2 square, nodata
    skipped), ground seeds = tophat <= tan(slope)*res_x, region-grow the
    ground through edges where tophat_n - tophat_u < tan(slope)*dist(u,n)
    (pure reachability — order-free), then fill the unreached OTO holes by
    inverse-SQUARED-distance interpolation of the original z at OTO-edge
    cells within filter_size/1.5 cells; holes with no edge in radius are
    nodata (absent). f64 (the reference degrades to f32).
    -> (row, col, value).

    Spark shape: two window scatter-aggregates, an O(OTO radius)
    reachability loop (ground is almost entirely seeded, so rounds track
    the largest object, not the DEM), and one bounded-radius equi-join."""
    import math as _math

    from whitebox_tools_spark.distributed import loop_checkpoint

    fs = int(filter_size)
    if fs % 2 == 0:
        fs += 1
    mid = fs // 2
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offs = spark.createDataFrame(
        [(dy, dx) for dy in range(-mid, mid + 1) for dx in range(-mid, mid + 1)],
        "dy int, dx int",
    )

    def win(df, agg, out):
        sc = (
            df.crossJoin(F.broadcast(offs))
            .select(
                (F.col("row") - F.col("dy")).alias("row"),
                (F.col("col") - F.col("dx")).alias("col"),
                F.col("value").alias("nz"),
            )
            .groupBy("row", "col")
            .agg(agg(F.col("nz")).alias(out))
        )
        return sc

    ero = src.join(win(src, F.min, "ero"), ["row", "col"]).select(
        "row", "col", F.col("ero").alias("value")
    )
    opening = src.select("row", "col").join(
        win(ero, F.max, "opening"), ["row", "col"]
    )
    th = src.join(opening, ["row", "col"]).select(
        "row", "col", F.col("value").alias("z"),
        (F.col("value") - F.col("opening")).alias("tophat"),
    ).localCheckpoint(eager=True)

    slope = _math.tan(_math.radians(float(slope_threshold)))
    diag = _math.sqrt(grid.res_x**2 + grid.res_y**2)
    dirs = [(1, -1, slope * diag), (1, 0, slope * grid.res_x),
            (1, 1, slope * diag), (0, 1, slope * grid.res_y),
            (-1, 1, slope * diag), (-1, 0, slope * grid.res_x),
            (-1, -1, slope * diag), (0, -1, slope * grid.res_y)]
    doffs = F.broadcast(spark.createDataFrame(dirs, "dx int, dy int, thr double"))
    reached = th.select(
        "row", "col", "tophat",
        (F.col("tophat") <= F.lit(slope * grid.res_x)).alias("ok"),
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        grow = (
            reached.filter(F.col("ok"))
            .crossJoin(doffs)
            .select(
                (F.col("row") + F.col("dy")).alias("row"),
                (F.col("col") + F.col("dx")).alias("col"),
                (F.col("tophat") + F.col("thr")).alias("lim"),
            )
            .groupBy("row", "col")
            .agg(F.max("lim").alias("lim"))
        )
        nxt = reached.join(grow, ["row", "col"], "left").select(
            "row", "col", "tophat",
            (F.col("ok") | (F.col("tophat") < F.coalesce("lim", F.lit(float("-inf")))))
            .alias("ok2"),
            F.col("ok").alias("ok1"),
        )
        done = nxt.filter(F.col("ok2") != F.col("ok1")).limit(1).isEmpty()
        reached = nxt.select("row", "col", "tophat", F.col("ok2").alias("ok")).transform(
            loop_checkpoint
        )
        if done:
            break
    state = th.join(reached.select("row", "col", "ok"), ["row", "col"])
    ground = state.filter(F.col("ok"))
    holes = state.filter(~F.col("ok")).select("row", "col")
    # OTO edge cells: ground cells 8-adjacent to a hole
    n8 = F.broadcast(spark.createDataFrame(
        [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dy, dx) != (0, 0)],
        "dy int, dx int",
    ))
    edge = (
        holes.crossJoin(n8)
        .select((F.col("row") + F.col("dy")).alias("row"),
                (F.col("col") + F.col("dx")).alias("col"))
        .distinct()
        .join(ground.select("row", "col", F.col("z").alias("ez")), ["row", "col"])
    )
    R = fs / 1.5
    ri = int(_math.floor(R))
    roffs = F.broadcast(spark.createDataFrame(
        [(dy, dx) for dy in range(-ri, ri + 1) for dx in range(-ri, ri + 1)
         if 0 < dy * dy + dx * dx <= R * R],
        "dy int, dx int",
    ))
    cand = (
        edge.crossJoin(roffs)
        .select(
            (F.col("row") + F.col("dy")).alias("row"),
            (F.col("col") + F.col("dx")).alias("col"),
            "ez",
            (F.col("dy") * F.col("dy") + F.col("dx") * F.col("dx"))
            .cast("double").alias("d2"),
        )
        .join(holes, ["row", "col"])
    )
    filled = cand.groupBy("row", "col").agg(
        (F.sum(F.col("ez") / F.col("d2")) / F.sum(F.lit(1.0) / F.col("d2"))).alias("value")
    )
    return ground.select("row", "col", F.col("z").alias("value")).unionByName(
        filled.select("row", "col", "value")
    )


def roto_oracle_sql(
    source_sql: str, grid: GridSpec, *, filter_size: int = 11,
    slope_threshold: float = 15.0,
) -> str:
    import math as _math

    fs = int(filter_size)
    if fs % 2 == 0:
        fs += 1
    mid = fs // 2
    slope = _math.tan(_math.radians(float(slope_threshold)))
    diag = _math.sqrt(grid.res_x**2 + grid.res_y**2)
    dirs = [(1, -1, slope * diag), (1, 0, slope * grid.res_x),
            (1, 1, slope * diag), (0, 1, slope * grid.res_y),
            (-1, 1, slope * diag), (-1, 0, slope * grid.res_x),
            (-1, -1, slope * diag), (0, -1, slope * grid.res_y)]
    dvals = ", ".join(f"({dx}, {dy}, {thr!r})" for dx, dy, thr in dirs)
    R = fs / 1.5
    ri = int(_math.floor(R))
    rvals = ", ".join(
        f"({dy}, {dx})" for dy in range(-ri, ri + 1) for dx in range(-ri, ri + 1)
        if 0 < dy * dy + dx * dx <= R * R
    )
    seed_thr = slope * grid.res_x
    return f"""
WITH RECURSIVE cells AS MATERIALIZED (
  SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL
),
ero AS (
  SELECT a.row, a.col, min(b.value) AS v
  FROM cells a JOIN cells b
    ON b.row BETWEEN a.row - {mid} AND a.row + {mid}
   AND b.col BETWEEN a.col - {mid} AND a.col + {mid}
  GROUP BY a.row, a.col
),
op AS (
  SELECT a.row, a.col, max(b.v) AS opening
  FROM cells a JOIN ero b
    ON b.row BETWEEN a.row - {mid} AND a.row + {mid}
   AND b.col BETWEEN a.col - {mid} AND a.col + {mid}
  GROUP BY a.row, a.col
),
th AS MATERIALIZED (
  SELECT c.row, c.col, c.value AS z, c.value - op.opening AS tophat
  FROM cells c JOIN op ON op.row = c.row AND op.col = c.col
),
dirs(dx, dy, thr) AS (VALUES {dvals}),
reach(row, col) AS (
  SELECT row, col FROM th WHERE tophat <= {seed_thr!r}
  UNION
  SELECT b.row, b.col
  FROM reach r
  JOIN th a ON a.row = r.row AND a.col = r.col
  JOIN dirs d ON TRUE
  JOIN th b ON b.row = a.row + d.dy AND b.col = a.col + d.dx
  WHERE b.tophat - a.tophat < d.thr
),
ground AS MATERIALIZED (SELECT t.row, t.col, t.z FROM th t SEMI JOIN reach USING (row, col)),
holes AS MATERIALIZED (SELECT t.row, t.col FROM th t ANTI JOIN reach USING (row, col)),
edge AS (
  SELECT DISTINCT g.row, g.col, g.z AS ez
  FROM ground g JOIN holes h
    ON abs(h.row - g.row) <= 1 AND abs(h.col - g.col) <= 1
),
roffs(dy, dx) AS (VALUES {rvals}),
filled AS (
  SELECT h.row, h.col,
         SUM(e.ez / CAST(o.dy * o.dy + o.dx * o.dx AS DOUBLE))
           / SUM(1.0 / CAST(o.dy * o.dy + o.dx * o.dx AS DOUBLE)) AS value
  FROM holes h
  JOIN roffs o ON TRUE
  JOIN edge e ON e.row = h.row - o.dy AND e.col = h.col - o.dx
  GROUP BY h.row, h.col
)
SELECT row, col, round(z, 6) AS value FROM ground
UNION ALL
SELECT row, col, round(value, 6) AS value FROM filled
"""


def _wind_ray_offsets(grid: GridSpec, azimuth: float, max_dist: float):
    """The grid-intersection offset list of exposure_towards_wind_flux
    (whitebox-plugins/src/exposure_towards_wind_flux/main.rs:376-455):
    horizontal + vertical lattice crossings of the azimuth ray out to
    max_dist, each sampled by linear interpolation between two cells,
    sorted by distance. -> [(dx1, dy1, dx2, dy2, w, dist)]."""
    az = float(azimuth)
    line_slope = (
        math.tan(math.radians(90.0 - az)) if az < 180.0
        else math.tan(math.radians(270.0 - az))
    )
    if 0.0 < az <= 90.0:
        x_step, y_step = 1, 1
    elif az <= 180.0:
        x_step, y_step = 1, -1
    elif az <= 270.0:
        x_step, y_step = -1, -1
    else:
        x_step, y_step = -1, 1
    offsets = []
    if line_slope != 0.0:
        y = 0.0
        while True:
            y += y_step
            x = y / line_slope
            dist = math.hypot(x * grid.res_x, -y * grid.res_y)
            if dist > max_dist:
                break
            x1 = math.floor(x)
            offsets.append((x1, int(-y), x1 + 1, int(-y), x - x1, dist))
    x = 0.0
    while True:
        x += x_step
        y = -(line_slope * x)
        dist = math.hypot(x * grid.res_x, y * grid.res_y)
        if dist > max_dist:
            break
        y1 = math.floor(y)
        offsets.append((int(x), y1, int(x), y1 + 1, y - y1, dist))
    offsets.sort(key=lambda o: o[5])
    return offsets


def exposure_towards_wind_flux(
    cells: DataFrame,
    grid: GridSpec,
    *,
    azimuth: float = 315.0,
    max_dist: float = 100.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """exposure_towards_wind_flux plugin (whitebox-plugins/src/
    exposure_towards_wind_flux/main.rs): cos(E) = sin(H)cos(S) +
    cos(H)sin(S)cos(Az - A) with S/A the 8-neighbor finite-difference
    slope/aspect (fx==0 -> 1e-5 quirk transcribed) and H = max(0, horizon
    angle along the wind azimuth). The horizon is the maximum ray slope
    over the lattice-crossing offsets; the reference's prefix-max-
    elevation gate is PROVEN redundant for the maximum (an earlier
    >=-elevation sample at shorter distance always has >= slope), and its
    >80-degree early-stop heuristic — which can MISS the true horizon —
    is not reproduced (this engine computes the exact maximum). Missing
    sample cells take the reference's -32768 sentinel (its own z2-nodata
    fallback bug leaves the sentinel in place, which the huge negative
    interpolant then makes harmless). f64 (reference f32).
    -> (row, col, value = cos E)."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    zf = float(z_factor)
    dx8 = [1, 1, 1, 0, -1, -1, -1, 0]
    dy8 = [-1, 0, 1, 1, 1, 0, -1, -1]
    offs8 = spark.createDataFrame(
        [(i, dx8[i], dy8[i]) for i in range(8)], "i int, dx int, dy int"
    )
    sc = (
        src.crossJoin(F.broadcast(offs8))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "i", F.col("value").alias("nz"),
        )
        .groupBy("row", "col")
        .agg(*[F.max(F.when(F.col("i") == i, F.col("nz"))).alias(f"n{i}")
               for i in range(8)])
    )
    g = src.join(sc, ["row", "col"], "left")
    for i in range(8):
        g = g.withColumn(
            f"n{i}", F.coalesce(F.col(f"n{i}"), F.col("value")) * F.lit(zf)
        )
    egr = 8.0 * grid.res_x
    fx0 = (F.col("n2") - F.col("n4") + 2.0 * (F.col("n1") - F.col("n5"))
           + F.col("n0") - F.col("n6")) / F.lit(egr)
    fx = F.when(fx0 == 0.0, F.lit(0.00001)).otherwise(fx0)
    fy = (F.col("n6") - F.col("n4") + 2.0 * (F.col("n7") - F.col("n3"))
          + F.col("n0") - F.col("n2")) / F.lit(egr)
    sa = g.select(
        "row", "col", F.col("value").alias("z"),
        (F.lit(180.0) - F.degrees(F.atan(fy / fx))
         + F.lit(90.0) * (fx / F.abs(fx))).alias("aspect"),
        F.atan(F.sqrt(fx * fx + fy * fy)).alias("slope"),
    )

    rays = _wind_ray_offsets(grid, azimuth, float(max_dist))
    rdf = F.broadcast(spark.createDataFrame(
        rays, "ox1 int, oy1 int, ox2 int, oy2 int, w double, dist double"
    ))
    z1t = src.select(F.col("row").alias("r1"), F.col("col").alias("c1"),
                     F.col("value").alias("z1"))
    z2t = src.select(F.col("row").alias("r2"), F.col("col").alias("c2"),
                     F.col("value").alias("z2"))
    cand = (
        src.crossJoin(rdf)
        .select(
            "row", "col", F.col("value").alias("z"), "w", "dist",
            (F.col("row") + F.col("oy1")).alias("r1"),
            (F.col("col") + F.col("ox1")).alias("c1"),
            (F.col("row") + F.col("oy2")).alias("r2"),
            (F.col("col") + F.col("ox2")).alias("c2"),
        )
        .join(z1t, ["r1", "c1"], "left")
        .join(z2t, ["r2", "c2"], "left")
        .filter(F.col("z1").isNotNull() | F.col("z2").isNotNull())
    )
    z1e = F.coalesce(F.col("z1"), F.col("z2"))
    z2e = F.coalesce(F.col("z2"), F.lit(-32768.0))
    zi = z1e + F.col("w") * (z2e - z1e)
    ha = (
        cand.select("row", "col", ((zi - F.col("z")) / F.col("dist")).alias("s"))
        .groupBy("row", "col")
        .agg(F.atan(F.max("s")).alias("ha"))
    )
    az = float(azimuth)
    rel0 = F.radians(F.abs(F.lit(az) - F.col("aspect")))
    rel = F.when(rel0 > math.pi, F.lit(2.0 * math.pi) - rel0).otherwise(rel0)
    j = sa.join(ha, ["row", "col"], "left").withColumn(
        "hac", F.greatest(F.coalesce("ha", F.lit(0.0)), F.lit(0.0))
    )
    return j.select(
        "row", "col",
        (F.sin(F.col("hac")) * F.cos(F.col("slope"))
         + F.cos(F.col("hac")) * F.sin(F.col("slope")) * F.cos(rel)).alias("value"),
    )


def etwf_oracle_sql(
    source_sql: str, grid: GridSpec, *, azimuth: float = 315.0,
    max_dist: float = 100.0, z_factor: float = 1.0,
) -> str:
    rays = _wind_ray_offsets(grid, azimuth, float(max_dist))
    rvals = ", ".join(
        f"({a}, {b}, {c}, {d}, {w!r}, {dist!r})" for a, b, c, d, w, dist in rays
    )
    egr = 8.0 * grid.res_x
    zf = float(z_factor)
    dx8 = [1, 1, 1, 0, -1, -1, -1, 0]
    dy8 = [-1, 0, 1, 1, 1, 0, -1, -1]
    dirs = ", ".join(f"({i}, {dx8[i]}, {dy8[i]})" for i in range(8))
    vs = ",\n".join(
        f"         max(CASE WHEN d.i = {i} THEN coalesce(n.value, c.value) END)"
        f" * CAST({zf!r} AS DOUBLE) AS n{i}"
        for i in range(8)
    )
    az = float(azimuth)
    return f"""
WITH cells AS MATERIALIZED (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
nb AS (
  SELECT c.row, c.col, any_value(c.value) AS z,
{vs}
  FROM cells c
  CROSS JOIN (VALUES {dirs}) d(i, dx, dy)
  LEFT JOIN cells n ON n.row = c.row + d.dy AND n.col = c.col + d.dx
  GROUP BY c.row, c.col
),
sa AS MATERIALIZED (
  SELECT row, col,
         180.0 - degrees(atan(fy / fx)) + 90.0 * (fx / abs(fx)) AS aspect,
         atan(sqrt(fx * fx + fy * fy)) AS slope
  FROM (
    SELECT row, col,
           CASE WHEN (n2 - n4 + 2.0 * (n1 - n5) + n0 - n6) / CAST({egr!r} AS DOUBLE) = 0.0
                THEN 0.00001
                ELSE (n2 - n4 + 2.0 * (n1 - n5) + n0 - n6) / CAST({egr!r} AS DOUBLE) END AS fx,
           (n6 - n4 + 2.0 * (n7 - n3) + n0 - n2) / CAST({egr!r} AS DOUBLE) AS fy
    FROM nb
  )
),
rays(ox1, oy1, ox2, oy2, w, dist) AS (VALUES {rvals}),
ha AS (
  SELECT c.row, c.col, atan(max((
           coalesce(z1.value, z2.value)
           + r.w * (coalesce(z2.value, -32768.0) - coalesce(z1.value, z2.value))
           - c.value) / r.dist)) AS ha
  FROM cells c CROSS JOIN rays r
  LEFT JOIN cells z1 ON z1.row = c.row + r.oy1 AND z1.col = c.col + r.ox1
  LEFT JOIN cells z2 ON z2.row = c.row + r.oy2 AND z2.col = c.col + r.ox2
  WHERE z1.value IS NOT NULL OR z2.value IS NOT NULL
  GROUP BY c.row, c.col
)
SELECT sa.row, sa.col,
       round(sin(hac) * cos(sa.slope) + cos(hac) * sin(sa.slope) * cos(rel), 6) AS value
FROM sa
LEFT JOIN ha ON ha.row = sa.row AND ha.col = sa.col
CROSS JOIN LATERAL (
  SELECT greatest(coalesce(ha.ha, 0.0), 0.0) AS hac,
         CASE WHEN radians(abs({az!r} - sa.aspect)) > pi()
              THEN 2.0 * pi() - radians(abs({az!r} - sa.aspect))
              ELSE radians(abs({az!r} - sa.aspect)) END AS rel
) t
"""


def map_off_terrain_objects(
    cells: DataFrame,
    grid: GridSpec,
    *,
    max_slope: float = 90.0,
    min_size: int = 0,
    max_iterations: int = 48,
) -> DataFrame:
    """MapOffTerrainObjects (terrain_analysis/map_otos.rs:250-360):
    region-grow cells into segments wherever the cell-to-cell slope ratio
    |z - zn| / cellsize_n is below tan(max_slope) (clamped to [1, 90]
    degrees, rs:234-240); segments smaller than min_size collapse to the
    background value 1; kept segments are numbered 1.. in seed scan order
    (the reference increments its fid only for kept segments, so id 1 is
    shared with the background — quirk transcribed).

    Spark shape: the same pointer-doubling min-label rounds as clump
    (O(log diameter)), with the slope predicate replacing value equality;
    sizes/numbering are one aggregate + a rank over kept components.
    -> (row, col, value) for valid cells."""
    ms = math.tan(math.radians(min(90.0, max(1.0, max_slope))))
    from whitebox_tools_spark.distributed import loop_checkpoint, with_global_seq

    base = (
        cells.filter(F.col("value").isNotNull())
        .select("row", "col", F.col("value").alias("z"))
        .withColumn("label", F.col("row") * (1 << 31) + F.col("col"))
        .localCheckpoint(eager=True)
    )
    res_diag = math.hypot(grid.res_x, grid.res_y)
    offsets = [
        (-1, 0, grid.res_y), (1, 0, grid.res_y),
        (0, -1, grid.res_x), (0, 1, grid.res_x),
        (-1, -1, res_diag), (-1, 1, res_diag), (1, -1, res_diag), (1, 1, res_diag),
    ]

    def shortcut(df: DataFrame) -> DataFrame:
        ref = df.select(
            (F.col("row") * (1 << 31) + F.col("col")).alias("__key"),
            F.col("label").alias("__l2"),
        )
        return (
            df.join(ref, df["label"] == ref["__key"], "left")
            .withColumn("label", F.least(F.col("label"), F.coalesce(F.col("__l2"), F.col("label"))))
            .drop("__key", "__l2")
        )

    cur = base
    for _ in range(max_iterations):
        right = cur.select(
            F.col("row").alias("r2"), F.col("col").alias("c2"),
            F.col("z").alias("z2"), F.col("label").alias("l2"),
        )
        exploded = cur.withColumn(
            "nbr",
            F.explode(
                F.array(*[F.struct(
                    (F.col("row") + F.lit(dr)).alias("r2"),
                    (F.col("col") + F.lit(dc)).alias("c2"),
                    F.lit(cs).alias("cs"),
                ) for dr, dc, cs in offsets])
            ),
        ).select(
            "row", "col", "z", "label",
            F.col("nbr.r2").alias("r2"), F.col("nbr.c2").alias("c2"),
            F.col("nbr.cs").alias("cs"),
        )
        nb = (
            exploded.join(right, ["r2", "c2"])
            .filter(F.abs(F.col("z") - F.col("z2")) / F.col("cs") < F.lit(ms))
            .groupBy("row", "col")
            .agg(F.min("l2").alias("nbl"))
        )
        nxt = (
            cur.join(nb, ["row", "col"], "left")
            .withColumn("label", F.least(F.col("label"), F.coalesce(F.col("nbl"), F.col("label"))))
            .drop("nbl")
        )
        nxt = shortcut(shortcut(nxt)).transform(loop_checkpoint)
        changed = (
            nxt.join(cur.select("row", "col", F.col("label").alias("old")), ["row", "col"])
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        cur = nxt
        if changed == 0:
            break

    comp = cur.groupBy("label").agg(
        F.min(F.col("row") * (1 << 31) + F.col("col")).alias("scan"),
        F.count(F.lit(1)).alias("n"),
    )
    kept = with_global_seq(
        comp.filter(F.col("n") >= F.lit(min_size)), ["scan"], out_col="seg_id"
    ).select("label", "seg_id")
    ids = comp.select("label").join(kept, "label", "left").select(
        "label", F.coalesce("seg_id", F.lit(1)).alias("seg_id")
    )
    return cur.join(F.broadcast(ids), "label").select(
        "row", "col", F.col("seg_id").cast("double").alias("value")
    )


def map_off_terrain_objects_oracle_sql(
    dem_sql: str, grid: GridSpec, *, max_slope: float = 90.0, min_size: int = 0
) -> str:
    """Recursive-CTE closure mirror (the clump oracle pattern with the
    slope-ratio adjacency)."""
    ms = math.tan(math.radians(min(90.0, max(1.0, max_slope))))
    res_diag = math.hypot(grid.res_x, grid.res_y)
    return f"""
WITH RECURSIVE cells AS MATERIALIZED (
  SELECT row, col, value FROM ({dem_sql}) WHERE value IS NOT NULL
),
adj AS MATERIALIZED (
  SELECT a.row AS ur, a.col AS uc, b.row AS vr, b.col AS vc
  FROM cells a JOIN cells b
    ON abs(b.row - a.row) <= 1 AND abs(b.col - a.col) <= 1
   AND NOT (b.row = a.row AND b.col = a.col)
   AND abs(a.value - b.value) / (CASE
        WHEN b.row <> a.row AND b.col <> a.col THEN {res_diag!r}
        WHEN b.col <> a.col THEN {grid.res_x!r}
        ELSE {grid.res_y!r} END) < {ms!r}
),
r(row, col, label) AS (
  SELECT row, col, row * 2147483648 + col FROM cells
  UNION
  SELECT e.vr, e.vc, r.label
  FROM r JOIN adj e ON e.ur = r.row AND e.uc = r.col
),
lab AS (SELECT row, col, min(label) AS lab FROM r GROUP BY 1, 2),
comp AS (SELECT lab, min(row * 2147483648 + col) AS scan, count(*) AS n
         FROM lab GROUP BY 1),
ids AS (SELECT lab,
               CASE WHEN n >= {min_size} THEN
                 CAST(row_number() OVER (ORDER BY CASE WHEN n >= {min_size} THEN 0 ELSE 1 END, scan) AS BIGINT)
               ELSE NULL END AS seg_id
        FROM comp)
SELECT l.row, l.col, CAST(COALESCE(i.seg_id, 1) AS DOUBLE) AS value
FROM lab l JOIN ids i ON l.lab = i.lab
"""


# ---------------------------------------------------------------------------
# HypsometricallyTintedHillshade
# ---------------------------------------------------------------------------
_HTH_PALETTES = {
    "atlas": [(72.0, 135.0, 55.0), (226.0, 219.0, 171.0), (228.0, 180.0, 123.0)],
    "high_relief": [
        (72.0, 135.0, 55.0), (226.0, 219.0, 171.0), (228.0, 180.0, 123.0),
        (182.0, 156.0, 144.0), (255.0, 255.0, 255.0),
    ],
    "arid": [(119.0, 101.0, 91.0), (254.0, 213.0, 132.0), (254.0, 252.0, 231.0)],
    "soft": [(154.0, 206.0, 111.0), (255.0, 254.0, 211.0), (255.0, 160.0, 100.0)],
    "muted": [
        (72.0, 136.0, 184.0), (142.0, 199.0, 167.0), (255.0, 254.0, 198.0),
        (228.0, 116.0, 79.0), (197.0, 74.0, 82.0),
    ],
}

_HTH_AZ = [(225.0, 0.1), (270.0, 0.4), (315.0, 0.4), (360.0, 0.1)]
_HTH_AZ_360 = [
    (0.0, 0.15), (45.0, 0.125), (90.0, 0.1), (135.0, 0.05),
    (180.0, 0.1), (225.0, 0.125), (270.0, 0.15), (315.0, 0.20),
]


def _hth_hs_expr(res: float, altitude: float, z_factor: float, full_360: bool) -> str:
    """The tool's OWN 3x3 Horn hillshade (hypsometrically_tinted_hillshade
    .rs:507-548) — NOT the standalone tool's 5x5 Florinsky stencil.
    Neighbors n0..n7 = E-start clockwise ring scaled by z_factor with
    nodata->center substitution."""
    sin_t = math.sin(math.radians(altitude))
    cos_t = math.cos(math.radians(altitude))
    fy = f"((n6 - n4 + 2.0*(n7 - n3) + n0 - n2) / {res * 8.0!r})"
    fx = f"((n2 - n4 + 2.0*(n1 - n5) + n0 - n6) / {res * 8.0!r})"
    ts = f"greatest(sqrt({fx}*{fx} + {fy}*{fy}), 0.00017)"
    asp = (
        f"(CASE WHEN {fx} <> 0.0 THEN pi() - atan({fy}/{fx}) + (pi()/2.0)*({fx}/abs({fx})) "
        "ELSE pi() END)"
    )
    azs = _HTH_AZ_360 if full_360 else _HTH_AZ
    terms = " + ".join(
        f"{w!r} * (({ts})/sqrt(1.0 + ({ts})*({ts}))) * "
        f"({sin_t!r}/({ts}) - {cos_t!r}*sin({math.radians(az - 90.0)!r} - {asp}))"
        for az, w in azs
    )
    _ = z_factor  # applied when building n0..n7/center
    return f"CAST(round(greatest(({terms}) * 32767.0, 0.0)) AS BIGINT)"


def _hth_palette_expr(palette: str, reverse: bool, prop: str) -> tuple:
    """Per-channel floor'd linear interpolation over equal palette
    segments (rs:1124-1199). Returns (r, g, b) SQL expressions over the
    clipped elevation-proportion expression `prop`."""
    colors = list(_HTH_PALETTES[palette])
    if reverse:
        colors.reverse()
    n = len(colors)
    step = 1.0 / (n - 1)
    out = []
    for ch in range(3):
        branches = []
        for i in range(n - 1):
            lo = i * step
            hi = (i + 1) * step
            seg = (
                f"CAST(floor({colors[i][ch]!r} + (({prop}) - {lo!r}) / {step!r} * "
                f"({colors[i + 1][ch]!r} - {colors[i][ch]!r})) AS BIGINT)"
            )
            branches.append(f"WHEN ({prop}) <= {hi!r} THEN {seg}")
        expr = (
            f"(CASE WHEN ({prop}) <= 0.0 THEN {int(colors[0][ch])} "
            f"WHEN ({prop}) >= 1.0 THEN {int(colors[-1][ch])} "
            + " ".join(branches)
            + f" ELSE {int(colors[-1][ch])} END)"
        )
        out.append(expr)
    return tuple(out)


def hypsometrically_tinted_hillshade(
    cells: DataFrame,
    grid: GridSpec,
    *,
    altitude: float = 45.0,
    hs_weight: float = 0.5,
    brightness: float = 0.5,
    palette: str = "atlas",
    reverse_palette: bool = False,
    full_360: bool = False,
    z_factor: float = 1.0,
) -> DataFrame:
    """HypsometricallyTintedHillshade (terrain_analysis/
    hypsometrically_tinted_hillshade.rs:430-1275): 3x3-Horn multidirectional
    hillshade (i16-scaled), percentile clips (0.5% shadow clip; highlight
    clip at 10% x brightness; 0.5% elevation clips over 32768 bins),
    palette hypsometric tint, hs/relief alpha blend over the (1,25,50)
    base, packed RGBA output.

    The atmospheric-haze branch (rs:1210-1237) mixes an ENTROPY-seeded
    random term into the blend — irreproducible by design; this engine
    implements atmospheric_alpha = 0 (the reference default), where the
    branch is skipped entirely.

    Distributed shape: one 3x3 scatter-aggregate for the hillshade, two
    tiny histogram aggregates (<=32768 bins, single-partition window is
    bounded) broadcast back, then pure per-cell expressions."""
    spark = cells.sparkSession
    relief_alpha = 1.0 - hs_weight
    src = cells.filter(F.col("value").isNotNull()).select(
        "row", "col", (F.col("value") * F.lit(z_factor)).alias("z")
    )
    # n0..n7: E-start clockwise (dx,dy) ring (rs:466-467)
    ring = [(1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1)]
    offs = spark.createDataFrame(
        [(i, dx, dy) for i, (dx, dy) in enumerate(ring)], "n int, dx int, dy int"
    )
    gathered = (
        src.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "n", F.col("z").alias("nz"),
        )
        .groupBy("row", "col")
        .agg(*[F.max(F.when(F.col("n") == i, F.col("nz"))).alias(f"n{i}") for i in range(8)])
    )
    g = src.join(gathered, ["row", "col"], "left")
    for i in range(8):
        g = g.withColumn(f"n{i}", F.coalesce(F.col(f"n{i}"), F.col("z")))
    hs = g.withColumn(
        "hs", F.expr(_hth_hs_expr(grid.res_x, altitude, z_factor, full_360))
    ).select("row", "col", F.col("z").alias("elev"), "hs").localCheckpoint(eager=True)

    stats = hs.agg(
        F.count(F.lit(1)).alias("ncells"),
        F.min("elev").alias("emin"),
        F.max("elev").alias("emax"),
    )
    # hs clip cutoffs (rs:579-600)
    from pyspark.sql import Window as _W

    hh = hs.groupBy("hs").agg(F.count(F.lit(1)).alias("cnt")).crossJoin(F.broadcast(stats))
    asc = _W.orderBy("hs").rowsBetween(_W.unboundedPreceding, 0)
    desc = _W.orderBy(F.desc("hs")).rowsBetween(_W.unboundedPreceding, 0)
    cuts_hs = (
        hh.withColumn("ca", F.sum("cnt").over(asc))
        .withColumn("cd", F.sum("cnt").over(desc))
        .agg(
            F.min(F.when(F.col("ca") >= F.col("ncells") * 0.005, F.col("hs"))).alias("new_min"),
            F.max(F.when(F.col("cd") >= F.col("ncells") * 0.10 * F.lit(float(brightness)), F.col("hs"))).alias("new_max"),
        )
    )
    # elevation clip cutoffs over 32768 bins (rs:556-575, 602-625)
    eb = (
        hs.crossJoin(F.broadcast(stats))
        .withColumn(
            "bin",
            F.round(((F.col("elev") - F.col("emin")) / (F.col("emax") - F.col("emin"))) * 32767.0).cast("long"),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(stats))
    )
    asc_b = _W.orderBy("bin").rowsBetween(_W.unboundedPreceding, 0)
    desc_b = _W.orderBy(F.desc("bin")).rowsBetween(_W.unboundedPreceding, 0)
    cuts_e = (
        eb.withColumn("ca", F.sum("cnt").over(asc_b))
        .withColumn("cd", F.sum("cnt").over(desc_b))
        .agg(
            F.min(F.when(F.col("ca") >= F.col("ncells") * 0.005, F.col("bin"))).alias("bmin"),
            F.max(F.when(F.col("cd") >= F.col("ncells") * 0.005, F.col("bin"))).alias("bmax"),
        )
    )
    full = (
        hs.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(cuts_hs))
        .crossJoin(F.broadcast(cuts_e))
        .withColumn("new_emin", F.col("emin") + (F.col("bmin").cast("double") / 32768.0) * (F.col("emax") - F.col("emin")))
        .withColumn("new_emax", F.col("emin") + (F.col("bmax").cast("double") / 32768.0) * (F.col("emax") - F.col("emin")))
        .withColumn(
            "eprop",
            F.when(F.col("elev") <= F.col("new_emin"), F.lit(0.0))
            .when(F.col("elev") >= F.col("new_emax"), F.lit(1.0))
            .otherwise((F.col("elev") - F.col("new_emin")) / (F.col("new_emax") - F.col("new_emin"))),
        )
        .withColumn(
            "hprop0",
            F.when(F.col("hs") <= F.col("new_min"), F.lit(0.0))
            .when(F.col("hs") >= F.col("new_max"), F.lit(1.0))
            .otherwise((F.col("hs") - F.col("new_min")).cast("double") / (F.col("new_max") - F.col("new_min")).cast("double")),
        )
        .withColumn("hprop", F.lit(relief_alpha) + F.lit(float(hs_weight)) * F.col("hprop0"))
    )
    rr, gg, bb = _hth_palette_expr(palette, reverse_palette, "eprop")
    full = (
        full.withColumn("relr", F.expr(rr))
        .withColumn("relg", F.expr(gg))
        .withColumn("relb", F.expr(bb))
        .withColumn("red", F.least(F.lit(255), (F.lit(1.0) * (1.0 - F.col("hprop")) + F.col("relr") * F.col("hprop")).cast("long")))
        .withColumn("grn", F.least(F.lit(255), (F.lit(25.0) * (1.0 - F.col("hprop")) + F.col("relg") * F.col("hprop")).cast("long")))
        .withColumn("blu", F.least(F.lit(255), (F.lit(50.0) * (1.0 - F.col("hprop")) + F.col("relb") * F.col("hprop")).cast("long")))
    )
    pack = (F.lit(255 << 24).cast("long") + F.col("blu") * 65536 + F.col("grn") * 256 + F.col("red")).cast("double")
    return full.select("row", "col", pack.alias("value"))


def hth_oracle_sql(
    dem_sql: str,
    grid: GridSpec,
    *,
    altitude: float = 45.0,
    hs_weight: float = 0.5,
    brightness: float = 0.5,
    palette: str = "atlas",
    reverse_palette: bool = False,
    full_360: bool = False,
    z_factor: float = 1.0,
) -> str:
    """DuckDB mirror with the identical formula strings."""
    relief_alpha = 1.0 - hs_weight
    hs_expr = _hth_hs_expr(grid.res_x, altitude, z_factor, full_360)
    rr, gg, bb = _hth_palette_expr(palette, reverse_palette, "eprop")
    ring = [(1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1)]
    nbrs = ", ".join(
        f"COALESCE(n{i}.value * {z_factor!r}, c.value * {z_factor!r}) AS n{i}"
        for i in range(8)
    )
    joins = " ".join(
        f"LEFT JOIN cells n{i} ON n{i}.row = c.row + {dy} AND n{i}.col = c.col + {dx}"
        for i, (dx, dy) in enumerate(ring)
    )
    return f"""
WITH cells AS MATERIALIZED (SELECT row, col, value FROM ({dem_sql}) WHERE value IS NOT NULL),
g AS (
  SELECT c.row, c.col, c.value * {z_factor!r} AS z, {nbrs}
  FROM cells c {joins}
),
hsr AS (SELECT row, col, z AS elev, {hs_expr} AS hs FROM g),
st AS (SELECT count(*) AS ncells, min(elev) AS emin, max(elev) AS emax FROM hsr),
hh AS (SELECT hs, count(*) AS cnt FROM hsr GROUP BY hs),
hcum AS (
  SELECT hs, sum(cnt) OVER (ORDER BY hs) AS ca,
         sum(cnt) OVER (ORDER BY hs DESC) AS cd
  FROM hh
),
cuts_hs AS (
  SELECT min(CASE WHEN ca >= st.ncells * 0.005 THEN hs END) AS new_min,
         max(CASE WHEN cd >= st.ncells * 0.10 * {float(brightness)!r} THEN hs END) AS new_max
  FROM hcum, st
),
ebin AS (
  SELECT CAST(round(((elev - st.emin) / (st.emax - st.emin)) * 32767.0) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM hsr, st GROUP BY 1
),
ecum AS (
  SELECT bin, sum(cnt) OVER (ORDER BY bin) AS ca,
         sum(cnt) OVER (ORDER BY bin DESC) AS cd
  FROM ebin
),
cuts_e AS (
  SELECT min(CASE WHEN ca >= st.ncells * 0.005 THEN bin END) AS bmin,
         max(CASE WHEN cd >= st.ncells * 0.005 THEN bin END) AS bmax
  FROM ecum, st
),
full0 AS (
  SELECT h.row, h.col, h.elev, h.hs,
         st.emin + (CAST(ce.bmin AS DOUBLE) / 32768.0) * (st.emax - st.emin) AS new_emin,
         st.emin + (CAST(ce.bmax AS DOUBLE) / 32768.0) * (st.emax - st.emin) AS new_emax,
         ch.new_min, ch.new_max
  FROM hsr h, st, cuts_hs ch, cuts_e ce
),
full1 AS (
  SELECT *,
         CASE WHEN elev <= new_emin THEN 0.0
              WHEN elev >= new_emax THEN 1.0
              ELSE (elev - new_emin) / (new_emax - new_emin) END AS eprop,
         {relief_alpha!r} + {float(hs_weight)!r} * (
           CASE WHEN hs <= new_min THEN 0.0
                WHEN hs >= new_max THEN 1.0
                ELSE CAST(hs - new_min AS DOUBLE) / CAST(new_max - new_min AS DOUBLE) END
         ) AS hprop
  FROM full0
),
full2 AS (
  SELECT row, col, hprop, {rr} AS relr, {gg} AS relg, {bb} AS relb FROM full1
),
full3 AS (
  SELECT row, col,
         -- trunc before CAST: DuckDB's double->int cast rounds, Spark's
         -- (and rust's `as u32`) truncates
         least(255, CAST(trunc(1.0 * (1.0 - hprop) + relr * hprop) AS BIGINT)) AS red,
         least(255, CAST(trunc(25.0 * (1.0 - hprop) + relg * hprop) AS BIGINT)) AS grn,
         least(255, CAST(trunc(50.0 * (1.0 - hprop) + relb * hprop) AS BIGINT)) AS blu
  FROM full2
)
SELECT row, col, CAST({255 << 24} + blu * 65536 + grn * 256 + red AS DOUBLE) AS value
FROM full3
"""


# ---------------------------------------------------------------------------
# EmbankmentMapping
# ---------------------------------------------------------------------------
_EM_DX = [1, 1, 1, 0, -1, -1, -1, 0]
_EM_DY = [-1, 0, 1, 1, 1, 0, -1, -1]


def embankment_kernel(
    z: dict,
    road_cells: list,
    grid: GridSpec,
    *,
    search_dist: float,
    min_road_width: float,
    typical_width: float,
    max_height: float,
    max_width: float,
    max_increment: float,
    spillout_slope: float,
):
    """EmbankmentMapping core (terrain_analysis/embankment_mapping.rs:
    637-830) on a local neighborhood: seed repositioning to the highest
    cell in the search window (row-major road-cell scan), min-distance
    flood of (distance, seed elevation, max |slope|) out to max_width,
    then the rule-based embankment region growth. Widths arrive ALREADY
    halved (rs:419-421). Heap ties (equal distance) break by (row, col)
    — the reference's BinaryHeap tie order is unspecified. Returns the
    set of embankment cells."""
    import heapq

    diag = math.hypot(grid.res_x, grid.res_y)
    dist_array = [diag, grid.res_x, diag, grid.res_y, diag, grid.res_x, diag, grid.res_y]
    seed_search = search_dist / grid.res_x
    if int(seed_search) % 2 == 0:
        seed_search += 1.0
    midpoint = int(seed_search / 2.0)
    offs = [
        (c - midpoint, r - midpoint)
        for r in range(int(seed_search))
        for c in range(int(seed_search))
    ]
    roads = set(road_cells)
    out = {}
    distance = {}
    seed_elev = {}
    max_abs_slope = {}
    pq_dist = []
    pq = []
    for (row, col) in sorted(roads):
        if (row, col) not in z:
            continue
        maxval = z[(row, col)]
        mp = (row, col)
        for (dc, dr) in offs:
            nb = (row + dr, col + dc)
            if nb in z and nb not in roads and z[nb] > maxval and out.get(nb) != 1.0:
                maxval = z[nb]
                mp = nb
        out[mp] = 1.0
        heapq.heappush(pq_dist, (0.0, mp[0], mp[1]))
        distance[mp] = 0.0
        seed_elev[mp] = maxval
        max_abs_slope[mp] = 0.0
        heapq.heappush(pq, (0.0, mp[0], mp[1]))

    while pq_dist:
        d0, r, c = heapq.heappop(pq_dist)
        seed_z = seed_elev[(r, c)]
        for n in range(8):
            nb = (r + _EM_DY[n], c + _EM_DX[n])
            if nb in z and distance.get(nb, -1.0) < 0.0:
                dist = d0 + dist_array[n]
                if dist < max_width:
                    distance[nb] = dist
                    seed_elev[nb] = seed_z
                    eh = seed_z - z[nb]
                    es = math.atan(eh / (d0 + dist_array[n]))
                    max_abs_slope[nb] = max(
                        abs(math.degrees(es)), max_abs_slope.get((r, c), 0.0)
                    )
                    heapq.heappush(pq_dist, (dist, nb[0], nb[1]))

    while pq:
        d0, r, c = heapq.heappop(pq)
        zc = z[(r, c)]
        for n in range(8):
            nb = (r + _EM_DY[n], c + _EM_DX[n])
            if nb in z and nb not in out:
                dist = distance.get(nb, -1.0)
                if dist >= 0.0:
                    if dist <= min_road_width:
                        out[nb] = 1.0
                        heapq.heappush(pq, (dist, nb[0], nb[1]))
                    elif dist <= max_width:
                        seed_z = seed_elev[nb]
                        eh = seed_z - z[nb]
                        es = math.degrees(math.atan(eh / dist))
                        if (
                            dist <= typical_width
                            and zc - z[nb] > -max_increment
                            and eh <= max_height
                        ):
                            if z[nb] <= zc:
                                out[nb] = 1.0
                                heapq.heappush(pq, (dist, nb[0], nb[1]))
                            elif max_abs_slope.get(nb, 0.0) < spillout_slope:
                                out[nb] = 1.0
                                heapq.heappush(pq, (dist, nb[0], nb[1]))
                        elif max_abs_slope.get(nb, 0.0) - abs(es) <= 1.0 and es >= 0.0:
                            out[nb] = 1.0
                            heapq.heappush(pq, (dist, nb[0], nb[1]))
    return {cell for cell, v in out.items() if v == 1.0}


def embankment_mapping(
    dem: DataFrame,
    roads: DataFrame,
    grid: GridSpec,
    *,
    search_dist: float = 2.5,
    min_road_width: float = 6.0,
    typical_width: float = 30.0,
    max_height: float = 2.0,
    max_width: float = 60.0,
    max_increment: float = 0.05,
    spillout_slope: float = 4.0,
    cluster_cap: int = 64,
    halo_buckets: int = 2,
) -> DataFrame:
    """EmbankmentMapping (terrain_analysis/embankment_mapping.rs:380-1026,
    mapping mode): boolean embankment raster from a DEM + transportation
    vector. Roads rasterize with the engine scanline; road cells cluster
    conservatively by coarse buckets (bucket edge L >= 2x the full
    influence radius reach = (max_width + search_dist)/res, so clusters
    that could interact always merge), each cluster's DEM neighborhood
    gathers through one bounded bucket join, and the exact serial kernel
    runs per cluster in parallel (the per-clump Arrow idiom — the
    reference is a single global serial pass; independent clusters are
    bit-equivalent).

    A globally connected road network (national scale) would merge into
    ONE cluster, so merged components are capped at `cluster_cap` buckets:
    each chunk's kernel sees roads/DEM from `halo_buckets` extra bucket
    rings (halo_buckets * L cells >= 2 * halo_buckets * reach — the
    reference's distance labels and growth gates never read beyond reach
    of a seed, so a >= 2-ring halo covers every seed that can influence a
    core cell plus the corridor chains through the inner ring) and only
    core-bucket cells are emitted. Chunked == unsplit output is pinned by
    tests/test_embankment_cap.py on a connected multi-bucket road grid.
    The --remove_embankments interpolation mode is remove_embankments_dem
    below (compose: remove_embankments_dem(dem, embankment_mapping(...))).
    -> (row, col, value 1.0) embankment cells."""
    import pandas as pd

    from .raster_vector import vector_lines_to_raster

    min_road_width = min_road_width / 2.0
    typical_width = typical_width / 2.0
    max_width = max_width / 2.0

    ras = vector_lines_to_raster(roads, grid).select("row", "col")
    eps = roads.selectExpr(f"{grid.row_sql('ys[0]')} AS row", f"{grid.col_sql('xs[0]')} AS col").unionByName(
        roads.selectExpr(f"{grid.row_sql('element_at(ys, -1)')} AS row", f"{grid.col_sql('element_at(xs, -1)')} AS col")
    )
    rc = ras.unionByName(eps).distinct().localCheckpoint(eager=True)

    res_min = min(grid.res_x, grid.res_y)
    reach = int(math.ceil((max_width + search_dist) / res_min)) + 2
    L = max(reach * 2, 4)
    rb = rc.withColumn(
        "b",
        F.struct(
            F.floor(F.col("row") / F.lit(L)).alias("br"),
            F.floor(F.col("col") / F.lit(L)).alias("bc"),
        ),
    )
    # conservative bucket components (driver-side over the tiny bucket set)
    buckets = sorted(
        {(int(r.b.br), int(r.b.bc)) for r in rb.select("b").distinct().collect()}
    )
    parent = {b: b for b in buckets}

    def find(b):
        while parent[b] != b:
            parent[b] = parent[parent[b]]
            b = parent[b]
        return b

    bset = set(buckets)
    for (br, bc) in buckets:
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                nb = (br + dr, bc + dc)
                if nb in bset:
                    ra, rn = find((br, bc)), find(nb)
                    if ra != rn:
                        parent[max(ra, rn)] = min(ra, rn)
    # capped chunks: split each merged component into sorted runs of
    # <= cluster_cap buckets so one national-scale connected network
    # fans out over many executors instead of one
    comp = {b: find(b) for b in buckets}
    groups: dict = {}
    for b in buckets:
        groups.setdefault(comp[b], []).append(b)
    cluster_of = {}
    for root, bs in groups.items():
        bs.sort()
        for i, b in enumerate(bs):
            cluster_of[b] = f"{root[0]}_{root[1]}_{i // max(cluster_cap, 1)}"
    spark = dem.sparkSession
    h = max(int(halo_buckets), 1)
    ring = range(-h, h + 1)
    # emission map: a chunk owns its road buckets plus any roadless bucket
    # in their 1-ring (kernel output reaches at most reach = L/2 past a
    # seed, i.e. 1 ring past road buckets; roadless ring buckets shared by
    # several chunks are computed identically by each — all seeds within
    # reach of such a cell sit inside every neighbor chunk's >=2-ring seed
    # halo — so .distinct() collapses them)
    emit_rows = {(br, bc, cluster_of[(br, bc)]) for (br, bc) in buckets}
    for (br, bc) in buckets:
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                nb = (br + dr, bc + dc)
                if nb not in bset:
                    emit_rows.add((nb[0], nb[1], cluster_of[(br, bc)]))
    bdf = F.broadcast(
        spark.createDataFrame(
            sorted(emit_rows), "br long, bc long, cluster string"
        )
    )
    # seed map: every chunk also gathers road cells from its halo rings
    seed_map = F.broadcast(
        spark.createDataFrame(
            sorted({
                (br + dr, bc + dc, cluster_of[(br, bc)])
                for (br, bc) in buckets for dr in ring for dc in ring
            }),
            "br long, bc long, cluster string",
        )
    )
    rcl = rb.select(
        "row", "col", F.col("b.br").alias("br"), F.col("b.bc").alias("bc")
    ).join(seed_map, ["br", "bc"]).select("row", "col", "cluster")
    # dem cells: halo + 1 extra ring so halo seeds get their full reach
    dring = range(-h - 1, h + 2)
    dil = (
        spark.createDataFrame(
            sorted({
                (br + dr, bc + dc, cluster_of[(br, bc)])
                for (br, bc) in buckets for dr in dring for dc in dring
            }),
            "br long, bc long, cluster string",
        )
    )
    dcells = (
        dem.filter(F.col("value").isNotNull())
        .withColumn("br", F.floor(F.col("row") / F.lit(L)))
        .withColumn("bc", F.floor(F.col("col") / F.lit(L)))
        .join(F.broadcast(dil), ["br", "bc"])
        .select("cluster", "row", "col", "value")
    )
    grouped = (
        dcells.groupBy("cluster")
        .agg(F.collect_list(F.struct("row", "col", "value")).alias("cells"))
        .join(
            rcl.groupBy("cluster").agg(
                F.collect_list(F.struct("row", "col")).alias("rcells")
            ),
            "cluster",
        )
    )
    params = dict(
        search_dist=search_dist, min_road_width=min_road_width,
        typical_width=typical_width, max_height=max_height,
        max_width=max_width, max_increment=max_increment,
        spillout_slope=spillout_slope,
    )

    def _run(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                z = {(int(e["row"]), int(e["col"])): float(e["value"]) for e in r.cells}
                road_cells = [(int(e["row"]), int(e["col"])) for e in r.rcells]
                emb = embankment_kernel(z, road_cells, grid, **params)
                out.extend((r.cluster, rr, cc, 1.0) for (rr, cc) in emb)
            yield pd.DataFrame(out, columns=["cluster", "row", "col", "value"])

    raw = grouped.mapInPandas(
        _run, "cluster string, row long, col long, value double"
    )
    # keep only cells whose bucket this chunk OWNS (halo work is duplicated
    # by construction; the core filter makes chunked == unsplit)
    return (
        raw.withColumn("br", F.floor(F.col("row") / F.lit(L)))
        .withColumn("bc", F.floor(F.col("col") / F.lit(L)))
        .join(bdf, ["br", "bc", "cluster"])
        .select("row", "col", "value")
        .distinct()
    )


def remove_embankments_dem(
    dem: DataFrame,
    emb: DataFrame,
    grid: GridSpec,
    *,
    max_width: float = 60.0,
) -> DataFrame:
    """EmbankmentMapping --remove_embankments mode (terrain_analysis/
    embankment_mapping.rs:858-960): interpolate a surface beneath the
    mapped embankment cells, producing the embankment-less DEM.

    Donor points: every 8-neighbor of an embankment cell that is NOT
    itself an embankment cell and has a valid DEM value, inserted once
    PER adjacent embankment cell — the reference's FixedRadiusSearch2D
    keeps duplicate insertions (fixed_radius_search.rs:81-95), so a donor
    touching k embankment cells carries k-fold IDW weight; preserved here
    by keeping one donor ROW per (embankment cell, neighbor) pair. Each
    embankment cell gathers donors with squared cell-center distance
    <= r^2 (r = max_width/2 — the tool halves widths up front,
    embankment_mapping.rs:430) and takes the inverse-SQUARED-distance
    weighted mean (the FRS is built with DistanceMetric::SquaredEuclidean,
    so search() returns squared distances and the 1/dist weight at
    embankment_mapping.rs:913 is 1/d^2). Embankment cells with no donor
    in range go nodata (dropped from the sparse output, matching the
    reference's nodata write at :926); non-embankment cells pass the DEM
    through unchanged.

    Distribution: donors carry their floor(world/r) bucket; each target
    explodes its 3x3 bucket neighborhood and equi-joins — any donor
    within distance r of a target shares that neighborhood, so the join
    is exact while shuffling O(donors + 9*targets) rows (donors scale
    with embankment PERIMETER, not raster area). All-JVM column
    expressions; no UDF.
    -> (row, col, value) full embankment-less DEM, sparse over valid cells.
    """
    r = max_width / 2.0
    emb_cells = emb.select("row", "col").distinct()

    offs = [
        (dr, dc)
        for dr in (-1, 0, 1)
        for dc in (-1, 0, 1)
        if (dr, dc) != (0, 0)
    ]
    off_arr = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr, dc in offs
    ])
    nb = emb_cells.select(
        "row", "col", F.explode(off_arr).alias("o")
    ).select(
        (F.col("row") + F.col("o.dr")).alias("row"),
        (F.col("col") + F.col("o.dc")).alias("col"),
    )
    donors = (
        nb.join(emb_cells, ["row", "col"], "left_anti")
        .join(dem.select("row", "col", "value"), ["row", "col"])
        .selectExpr(f"{grid.x_center_sql('col')} AS dx", f"{grid.y_center_sql('row')} AS dy", "value AS z")
        .withColumn("bx", F.floor(F.col("dx") / F.lit(r)))
        .withColumn("by", F.floor(F.col("dy") / F.lit(r)))
    )

    tgt = emb_cells.selectExpr("row", "col", f"{grid.x_center_sql('col')} AS tx", f"{grid.y_center_sql('row')} AS ty")
    bneigh = F.array(*[
        F.struct(
            (F.floor(F.col("tx") / F.lit(r)) + F.lit(ddx)).alias("bx"),
            (F.floor(F.col("ty") / F.lit(r)) + F.lit(ddy)).alias("by"),
        )
        for ddx in (-1, 0, 1)
        for ddy in (-1, 0, 1)
    ])
    tgt9 = tgt.select(
        "row", "col", "tx", "ty", F.explode(bneigh).alias("b")
    ).select("row", "col", "tx", "ty", F.col("b.bx").alias("bx"), F.col("b.by").alias("by"))

    d2 = (
        (F.col("tx") - F.col("dx")) * (F.col("tx") - F.col("dx"))
        + (F.col("ty") - F.col("dy")) * (F.col("ty") - F.col("dy"))
    )
    interp = (
        tgt9.join(donors, ["bx", "by"])
        .filter(d2 <= F.lit(r * r))
        .groupBy("row", "col")
        .agg(
            (
                F.sum(F.col("z") / d2) / F.sum(F.lit(1.0) / d2)
            ).alias("value")
        )
    )

    passthrough = dem.select("row", "col", "value").join(
        emb_cells, ["row", "col"], "left_anti"
    )
    return passthrough.unionByName(interp.select("row", "col", "value"))
