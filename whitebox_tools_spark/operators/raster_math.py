"""Raster math (classes MAP and ZIP) — per-cell transforms and cell-wise
combines over long-form cell tables (row, col, value).

The reference implements ~40 standalone tools for these
(/root/reference/whitebox-tools-app/src/tools/math_stat_analysis/{abs,sin,
cos,tan,ln,log10,log2,sqrt,square,negate,reciprocal,round,truncate,
to_degrees,to_radians,add,subtract,multiply,divide,min,max,modulo,power,
integer_division,equal_to,not_equal_to,greater_than,less_than,and,or,not,
xor}.rs plus gis_analysis/reclass.rs and weighted_sum.rs). Every one maps to
a built-in pyspark.sql.functions expression — JVM-side, whole-stage codegen,
zero UDFs. NoData is NULL; NULL propagates through expressions exactly as
the reference's nodata guard skips cells.

ZIP ops align two rasters by (row, col) equi-join — broadcast when one side
is small, otherwise a co-partitioned shuffle join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# MAP: value -> value (tool name -> expression builder)
MAP_OPS: dict = {
    "abs": F.abs,
    "negate": lambda c: -c,
    "reciprocal": lambda c: F.lit(1.0) / c,
    "square": lambda c: c * c,
    "sqrt": F.sqrt,
    "ln": F.log,
    "log10": F.log10,
    "log2": F.log2,
    "exp": F.exp,
    "exp2": lambda c: F.pow(F.lit(2.0), c),
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
    "sinh": F.sinh,
    "cosh": F.cosh,
    "tanh": F.tanh,
    "ceil": lambda c: F.ceil(c).cast("double"),
    "floor": lambda c: F.floor(c).cast("double"),
    "round": lambda c: F.round(c, 0),
    "to_degrees": F.degrees,
    "to_radians": F.radians,
    "is_nodata": lambda c: F.when(c.isNull(), F.lit(1.0)).otherwise(F.lit(0.0)),
    # math_stat_analysis/{arcosh,arsinh,artanh,truncate,increment,decrement,
    # not}.rs
    "arcosh": F.acosh,
    "arsinh": F.asinh,
    "artanh": F.atanh,
    "truncate": lambda c: (
        F.floor(F.abs(c)) * F.when(c < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    ).cast("double"),
    "increment": lambda c: c + F.lit(1.0),
    "decrement": lambda c: c - F.lit(1.0),
    "not": lambda c: (c == 0.0).cast("double"),
}

# ZIP: (value1, value2) -> value
ZIP_OPS: dict = {
    "add": lambda a, b: a + b,
    "subtract": lambda a, b: a - b,
    "multiply": lambda a, b: a * b,
    "divide": lambda a, b: a / b,
    "min": F.least,
    "max": F.greatest,
    "modulo": lambda a, b: a % b,
    "power": F.pow,
    "integer_division": lambda a, b: F.floor(a / b).cast("double"),
    "equal_to": lambda a, b: (a == b).cast("double"),
    "not_equal_to": lambda a, b: (a != b).cast("double"),
    "greater_than": lambda a, b: (a > b).cast("double"),
    "less_than": lambda a, b: (a < b).cast("double"),
    "and": lambda a, b: ((a != 0) & (b != 0)).cast("double"),
    "or": lambda a, b: ((a != 0) | (b != 0)).cast("double"),
    "xor": lambda a, b: ((a != 0) != (b != 0)).cast("double"),
    # math_stat_analysis/atan2.rs; in_place_{add,subtract,multiply,divide}.rs
    # are the same cellwise combines writing onto input1 — combine() with
    # the base op IS the in-place tool in a DataFrame engine
    "atan2": F.atan2,
}


def apply_map(cells: DataFrame, op: str, *, value: str = "value") -> DataFrame:
    """One MAP tool over a cell table (NULL nodata propagates)."""
    return cells.withColumn(value, MAP_OPS[op](F.col(value)))


def combine(
    a: DataFrame,
    b: DataFrame,
    op: str,
    *,
    value: str = "value",
    broadcast_b: bool = False,
    how: str = "inner",
) -> DataFrame:
    """One ZIP tool: align on (row, col) and combine values."""
    bb = b.select("row", "col", F.col(value).alias("__v2"))
    if broadcast_b:
        bb = F.broadcast(bb)
    return (
        a.join(bb, ["row", "col"], how)
        .withColumn(value, ZIP_OPS[op](F.col(value), F.col("__v2")))
        .drop("__v2")
    )


def scalar_op(cells: DataFrame, op: str, const: float, *, value: str = "value") -> DataFrame:
    """Raster (op) constant — the tools' --input2 scalar path."""
    return cells.withColumn(value, ZIP_OPS[op](F.col(value), F.lit(const)))


INPLACE_OPS = ("add", "subtract", "multiply", "divide")


def inplace_op(a: DataFrame, b, op: str, *, value: str = "value") -> DataFrame:
    """InPlaceAdd / InPlaceSubtract / InPlaceMultiply / InPlaceDivide
    (math_stat_analysis/inplace_add.rs:212-257 and the _subtract/_multiply/
    _divide siblings): input1 (op)= input2. The reference writes nodata1
    when EITHER side is nodata (inplace_add.rs:252-256) — SQL NULL
    propagation through the arithmetic is exactly that, so the raster case
    is the engine's cell-aligned ZIP `combine` and the constant case is
    `scalar_op` (nodata cells stay NULL under op(NULL, c)). In a DataFrame
    engine "in place" is simply the returned plan replacing the input
    binding — no mutation exists to re-express."""
    if isinstance(b, (int, float)):
        return scalar_op(a, op, float(b), value=value)
    return combine(a, b, op, value=value)


def clip_min_max_by_percent(cells: DataFrame, percent: float, *, value: str = "value") -> DataFrame:
    """Raster::clip_min_and_max_by_percent (whitebox-raster/src/lib.rs:
    900-940): t = floor(percent/100 * num_cells) counting ALL cells
    (nodata included — here: all table rows); clamp non-nodata values to
    [t-th smallest, t-th largest] non-nodata value (t = 0 -> the extreme
    value itself, a no-op clamp); t > n_valid -> the reference's 0.0
    sentinel (its scan ends without a break), transcribed. The two rank
    probes are distributed top-k (TakeOrdered), not full sorts."""
    n_total = cells.count()
    t = int(float(percent) / 100.0 * n_total)
    rank = max(t, 1)
    valid = cells.filter(F.col(value).isNotNull())
    n_valid = valid.count()
    if t > n_valid:
        lo = hi = 0.0
    else:
        lo = valid.orderBy(F.col(value).asc()).limit(rank).agg(F.max(value)).first()[0]
        hi = valid.orderBy(F.col(value).desc()).limit(rank).agg(F.min(value)).first()[0]
    c = F.col(value)
    return cells.withColumn(
        value,
        F.when(c < F.lit(lo), F.lit(lo)).when(c > F.lit(hi), F.lit(hi)).otherwise(c),
    )


def normalized_difference_index(
    a: DataFrame,
    b: DataFrame,
    *,
    correction: float = 0.0,
    clip_percent: float = 0.0,
    value: str = "value",
) -> DataFrame:
    """NormalizedDifferenceIndex (image_analysis/normalized_difference_index.rs:
    295-330): (nir - red) / (nir + red + correction); when nir + red == 0
    AND correction == 0 the reference writes 0.0 (not nodata); either input
    nodata -> nodata; optional post-hoc percent clip
    (clip_min_and_max_by_percent). a = nir table, b = red table."""
    bb = b.select("row", "col", F.col(value).alias("__v2"))
    s = F.col(value) + F.col("__v2")
    nd = (
        F.when(F.col(value).isNull() | F.col("__v2").isNull(), F.lit(None).cast("double"))
        .when(
            (s != 0.0) | F.lit(float(correction) > 0.0),
            (F.col(value) - F.col("__v2")) / (s + F.lit(float(correction))),
        )
        .otherwise(F.lit(0.0))
    )
    out = a.join(bb, ["row", "col"]).withColumn(value, nd).drop("__v2")
    if float(clip_percent) > 0.0:
        out = clip_min_max_by_percent(out, clip_percent, value=value)
    return out


def reclass(
    cells: DataFrame,
    ranges: list[tuple[float, float, float]],
    *,
    value: str = "value",
    assign_mode: bool = False,
) -> DataFrame:
    """Reclass (gis_analysis/reclass.rs): (new, lower, upper] ranges as a
    single CASE chain; assign_mode means exact-value mapping (new, old).
    Unmatched values pass through unchanged (reference behavior)."""
    col = F.col(value)
    expr = None
    for new, lo, hi in ranges:
        cond = (col == F.lit(lo)) if assign_mode else ((col >= F.lit(lo)) & (col < F.lit(hi)))
        expr = F.when(cond, F.lit(new)) if expr is None else expr.when(cond, F.lit(new))
    return cells.withColumn(value, expr.otherwise(col) if expr is not None else col)


def weighted_sum(layers: list[tuple[DataFrame, float]], *, value: str = "value") -> DataFrame:
    """WeightedSum (gis_analysis/weighted_sum.rs): sum(w_i * raster_i) over
    aligned cells — iterative inner joins on (row, col)."""
    (df0, w0), rest = layers[0], layers[1:]
    out = df0.select("row", "col", (F.col(value) * F.lit(w0)).alias(value))
    for df, w in rest:
        out = combine(out, df.select("row", "col", (F.col(value) * F.lit(w)).alias(value)), "add")
    return out


def weighted_overlay(
    layers: list[tuple[DataFrame, float, bool]],
    *,
    scale_max: float = 1.0,
    constraints: list[DataFrame] | None = None,
    value: str = "value",
) -> DataFrame:
    """WeightedOverlay (gis_analysis/weighted_overlay.rs:350-460): each
    factor rescaled to [0,1] by its own min/range (cost factors inverted),
    scaled to scale_max, summed with weights normalized to 1; constraint
    rasters zero the output where constraint <= 0. NoData in any input ->
    NoData (inner-join semantics). layers: [(df, weight, is_cost)]."""
    wsum = sum(w for _df, w, _c in layers)
    out = None
    for df, w, cost in layers:
        st = df.filter(F.col(value).isNotNull()).agg(
            F.min(value).alias("mn"), F.max(value).alias("mx")
        )
        scaled = df.crossJoin(F.broadcast(st)).select(
            "row", "col",
            (
                F.lit(scale_max)
                * (
                    F.when(
                        F.lit(cost),
                        1.0 - (F.col(value) - F.col("mn")) / (F.col("mx") - F.col("mn")),
                    ).otherwise(
                        (F.col(value) - F.col("mn")) / (F.col("mx") - F.col("mn"))
                    )
                )
                * F.lit(w / wsum)
            ).alias(value),
        )
        out = scaled if out is None else combine(out, scaled, "add")
    for c in constraints or []:
        out = (
            out.join(
                c.select("row", "col", F.col(value).alias("__con")), ["row", "col"]
            )
            .withColumn(
                value, F.when(F.col("__con") <= 0.0, F.lit(0.0)).otherwise(F.col(value))
            )
            .drop("__con")
        )
    return out


def conditional_evaluation(
    cells: DataFrame,
    cond_sql: str,
    *,
    true_value: float,
    false_value: float | None = None,
    value: str = "value",
) -> DataFrame:
    """conditional_evaluation plugin (whitebox-plugins/conditional_evaluation):
    per-cell CASE WHEN <cond on `value`> THEN true ELSE false/input END —
    the condition is an SQL expression, evaluated JVM-side."""
    els = F.lit(false_value) if false_value is not None else F.col(value)
    return cells.withColumn(
        value, F.when(F.expr(cond_sql), F.lit(true_value)).otherwise(els)
    )


def convert_nodata_to_zero(cells: DataFrame, *, value: str = "value") -> DataFrame:
    """ConvertNodataToZero (data_tools/convert_nodata_to_zero.rs:119)."""
    return cells.withColumn(value, F.coalesce(F.col(value), F.lit(0.0)))


def new_raster_from_base(spark, grid, init_value: float | None) -> DataFrame:
    """NewRasterFromBase (data_tools/new_raster.rs:145): dense constant grid."""
    return (
        spark.range(grid.rows * grid.cols)
        .select(
            (F.col("id") / grid.cols).cast("long").alias("row"),
            (F.col("id") % grid.cols).alias("col"),
        )
        .withColumn("value", F.lit(init_value).cast("double"))
    )


def mosaic(layers: list[DataFrame], *, method: str = "last") -> DataFrame:
    """Mosaic (image_analysis/mosaic.rs): merge overlapping rasters into one.
    method='last' mirrors the reference's later-input-wins resolution for
    nearest-neighbour resampling on shared cells; 'first'/'min'/'max'/'mean'
    offered as the distributed generalizations. One union + one aggregate."""
    tagged = [
        df.select("row", "col", "value", F.lit(i).alias("__src"))
        for i, df in enumerate(layers)
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    u = u.filter(F.col("value").isNotNull())
    if method in ("last", "first"):
        pick = F.max_by("value", F.col("__src")) if method == "last" else F.min_by(
            "value", F.col("__src")
        )
        return u.groupBy("row", "col").agg(pick.alias("value"))
    fn = {"min": F.min, "max": F.max, "mean": F.avg}[method]
    return u.groupBy("row", "col").agg(fn("value").alias("value"))


# ---------------------------------------------------------------------------
# Multi-band cell tables: (band, row, col, value) — SURVEY.md section 1.1
# maps RasterConfigs.bands explicitly; these cover the image_analysis
# band-composite tools (e.g. normalized-difference indices over RGB/NIR
# composites) without widening the single-band schema elsewhere.
# ---------------------------------------------------------------------------
def band_select(cells: DataFrame, band: int, *, band_col: str = "band") -> DataFrame:
    """One band of a multi-band cell table as a plain (row, col, value)."""
    return cells.filter(F.col(band_col) == band).drop(band_col)


def normalized_difference(
    cells: DataFrame, band_a: int, band_b: int, *, band_col: str = "band"
) -> DataFrame:
    """(a - b) / (a + b) — the NDVI-style normalized difference index
    (image_analysis band composites); a + b == 0 -> NULL (nodata)."""
    a = band_select(cells, band_a, band_col=band_col)
    b = band_select(cells, band_b, band_col=band_col).select(
        "row", "col", F.col("value").alias("__v2")
    )
    s = F.col("value") + F.col("__v2")
    nd = F.when(s != 0.0, (F.col("value") - F.col("__v2")) / s)
    return a.join(b, ["row", "col"]).withColumn("value", nd).drop("__v2")


# ---------------------------------------------------------------------------
# Image-stack overlay family (gis_analysis/{max,min,sum,average,max_abs,
# min_abs,multiply}_overlay.rs, highest_pos.rs, lowest_pos.rs, count_if.rs,
# percent_{equal_to,greater_than,less_than}.rs, pick_from_list.rs) over the
# multi-band cell table (band, row, col, value); band = 1-based stack
# position. All are one hash aggregate (or one equi-join) per cell.
# ---------------------------------------------------------------------------
def stack_overlay(cells: DataFrame, op: str) -> DataFrame:
    """-> (row, col, value) combining all bands per cell: max, min, sum,
    average, max_abs, min_abs (the reference returns the magnitude), or
    multiply."""
    from pyspark.sql import functions as F

    src = cells.filter(F.col("value").isNotNull())
    g = src.groupBy("row", "col")
    if op == "max":
        out = g.agg(F.max("value").alias("value"))
    elif op == "min":
        out = g.agg(F.min("value").alias("value"))
    elif op == "sum":
        out = g.agg(F.sum("value").alias("value"))
    elif op == "average":
        out = g.agg(F.avg("value").alias("value"))
    elif op == "max_abs":
        out = g.agg(F.max(F.abs(F.col("value"))).alias("value"))
    elif op == "min_abs":
        out = g.agg(F.min(F.abs(F.col("value"))).alias("value"))
    elif op == "multiply":
        # product via sign-aware exp/sum/log: exact for reasonable stacks
        # would lose precision; use aggregate over collect_list instead
        out = g.agg(
            F.aggregate(
                F.collect_list("value"), F.lit(1.0), lambda acc, x: acc * x
            ).alias("value")
        )
    else:
        raise ValueError(op)
    return out


def stack_overlay_oracle_sql(stack_sql: str, op: str) -> str:
    agg = {
        "max": "max(value)",
        "min": "min(value)",
        "sum": "sum(value)",
        "average": "avg(value)",
        "max_abs": "max(abs(value))",
        "min_abs": "min(abs(value))",
        "multiply": "product(value)",
    }[op]
    return f"""
SELECT row, col, {agg} AS value FROM ({stack_sql}) t
WHERE value IS NOT NULL GROUP BY row, col
"""


def stack_position(cells: DataFrame, *, highest: bool = True) -> DataFrame:
    """HighestPosition / LowestPosition: the 1-based band index of the
    extreme value per cell; ties break to the LOWEST band (the reference's
    scan order). -> (row, col, value)."""
    from pyspark.sql import functions as F

    src = cells.filter(F.col("value").isNotNull())
    if highest:
        pick = F.max(
            F.struct(F.col("value").alias("v"), (-F.col("band")).alias("nb"))
        )
    else:
        pick = F.min(
            F.struct(F.col("value").alias("v"), F.col("band").alias("nb"))
        )
    out = src.groupBy("row", "col").agg(pick.alias("w"))
    band = F.when(F.lit(highest), -F.col("w.nb")).otherwise(F.col("w.nb"))
    return out.select("row", "col", F.abs(F.col("w.nb")).cast("double").alias("value"))


def stack_position_oracle_sql(stack_sql: str, *, highest: bool = True) -> str:
    if highest:
        pick = "max(struct_pack(v := value, nb := -band))"
    else:
        pick = "min(struct_pack(v := value, nb := band))"
    return f"""
SELECT row, col, CAST(abs(({pick}).nb) AS DOUBLE) AS value
FROM ({stack_sql}) t WHERE value IS NOT NULL GROUP BY row, col
"""


def count_if(cells: DataFrame, *, value: float) -> DataFrame:
    """CountIf (gis_analysis/count_if.rs): per cell, how many stack bands
    equal `value`. -> (row, col, value)."""
    from pyspark.sql import functions as F

    return (
        cells.filter(F.col("value").isNotNull())
        .groupBy("row", "col")
        .agg(
            F.sum(F.when(F.col("value") == value, 1).otherwise(0))
            .cast("double").alias("value")
        )
    )


def count_if_oracle_sql(stack_sql: str, *, value: float) -> str:
    return f"""
SELECT row, col,
       CAST(sum(CASE WHEN value = {value!r} THEN 1 ELSE 0 END) AS DOUBLE) AS value
FROM ({stack_sql}) t WHERE value IS NOT NULL GROUP BY row, col
"""


def percent_compare(cells: DataFrame, comp: DataFrame, *, op: str) -> DataFrame:
    """PercentEqualTo / PercentGreaterThan / PercentLessThan: per cell,
    100 * (# bands with value <op> comparison) / (# valid bands).
    -> (row, col, value)."""
    from pyspark.sql import functions as F

    c = comp.filter(F.col("value").isNotNull()).select(
        "row", "col", F.col("value").alias("cv")
    )
    j = cells.filter(F.col("value").isNotNull()).join(c, ["row", "col"])
    cond = {
        "eq": F.col("value") == F.col("cv"),
        "gt": F.col("value") > F.col("cv"),
        "lt": F.col("value") < F.col("cv"),
    }[op]
    return j.groupBy("row", "col").agg(
        (
            F.sum(F.when(cond, 1.0).otherwise(0.0)) / F.count(F.lit(1)) * 100.0
        ).alias("value")
    )


def percent_compare_oracle_sql(stack_sql: str, comp_sql: str, *, op: str) -> str:
    cmp_op = {"eq": "=", "gt": ">", "lt": "<"}[op]
    return f"""
WITH s AS (SELECT band, row, col, value FROM ({stack_sql}) t WHERE value IS NOT NULL),
c AS (SELECT row, col, value AS cv FROM ({comp_sql}) t WHERE value IS NOT NULL)
SELECT s.row, s.col,
       sum(CASE WHEN s.value {cmp_op} c.cv THEN 1.0 ELSE 0.0 END) / count(*) * 100.0 AS value
FROM s JOIN c ON c.row = s.row AND c.col = s.col
GROUP BY s.row, s.col
"""


def pick_from_list(cells: DataFrame, pos: DataFrame) -> DataFrame:
    """PickFromList (gis_analysis/pick_from_list.rs): per cell, the value
    of the band named by the position raster (1-based).
    -> (row, col, value)."""
    from pyspark.sql import functions as F

    p = pos.filter(F.col("value").isNotNull()).select(
        "row", "col", F.col("value").cast("long").alias("band")
    )
    return cells.filter(F.col("value").isNotNull()).join(
        p, ["row", "col", "band"]
    ).select("row", "col", "value")


def pick_from_list_oracle_sql(stack_sql: str, pos_sql: str) -> str:
    return f"""
WITH s AS (SELECT band, row, col, value FROM ({stack_sql}) t WHERE value IS NOT NULL),
p AS (SELECT row, col, CAST(value AS BIGINT) AS band FROM ({pos_sql}) t
      WHERE value IS NOT NULL)
SELECT s.row, s.col, s.value
FROM s JOIN p ON p.row = s.row AND p.col = s.col AND p.band = s.band
"""


# Prewitt & Mendelsohn perimeter-estimation lookup (raster_perimeter.rs:258-516):
# index = 8-neighbor same-class bitmask (bit n set iff neighbor n matches,
# n in the reference's dx=[1,1,1,0,-1,-1,-1,0], dy=[-1,0,1,1,1,0,-1,-1] order).
_PERIM_LUT = [
    4.0, 2.828427125, 2.236067977, 2.414213562, 2.828427125, 3.0, 2.414213562, 2.236067977,
    2.236067977, 2.414213562, 2.0, 2.0, 2.828427125, 1.414213562, 1.414213562, 1.414213562,
    2.236067977, 2.828427125, 2.0, 1.414213562, 2.414213562, 1.414213562, 2.0, 1.414213562,
    2.0, 2.0, 1.0, 2.0, 2.0, 2.0, 2.0, 1.0,
    2.828427125, 3.0, 2.828427125, 1.414213562, 2.0, 4.0, 2.236067977, 2.236067977,
    2.414213562, 2.236067977, 1.414213562, 1.414213562, 2.236067977, 2.236067977, 1.414213562, 1.414213562,
    2.828427125, 2.236067977, 1.414213562, 1.414213562, 2.236067977, 2.414213562, 2.0, 1.414213562,
    2.0, 2.0, 1.0, 1.414213562, 2.0, 2.0, 1.0, 1.0,
    2.236067977, 2.828427125, 2.0, 2.0, 2.828427125, 2.236067977, 2.0, 2.0,
    2.0, 1.414213562, 1.0, 2.0, 1.414213562, 1.414213562, 1.0, 1.414213562,
    2.0, 1.414213562, 1.0, 1.0, 1.414213562, 1.414213562, 2.0, 1.414213562,
    1.0, 1.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0,
    2.414213562, 1.414213562, 2.0, 2.0, 2.236067977, 2.414213562, 2.0, 2.0,
    2.0, 1.414213562, 2.0, 1.0, 2.0, 1.414213562, 1.0, 1.0,
    1.414213562, 1.414213562, 1.0, 1.0, 1.414213562, 1.414213562, 1.0, 1.0,
    2.0, 1.414213562, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0,
    2.828427125, 2.0, 2.828427125, 2.236067977, 3.0, 4.0, 1.414213562, 2.236067977,
    2.828427125, 2.236067977, 1.414213562, 2.0, 2.236067977, 2.414213562, 1.414213562, 1.414213562,
    2.414213562, 2.236067977, 1.414213562, 1.414213562, 2.236067977, 2.236067977, 1.414213562, 1.414213562,
    2.0, 2.0, 1.0, 1.0, 2.0, 2.0, 1.414213562, 1.0,
    3.0, 4.0, 2.236067977, 2.414213562, 4.0, 4.0, 2.414213562, 2.236067977,
    1.414213562, 2.236067977, 1.414213562, 1.414213562, 2.414213562, 2.236067977, 1.414213562, 1.414213562,
    1.414213562, 2.414213562, 1.414213562, 1.414213562, 2.236067977, 2.236067977, 1.414213562, 1.414213562,
    2.0, 2.0, 1.0, 1.0, 2.0, 2.0, 1.0, 1.0,
    2.414213562, 2.0, 2.236067977, 2.0, 1.414213562, 2.414213562, 2.0, 2.0,
    1.414213562, 1.414213562, 1.0, 1.0, 1.414213562, 1.414213562, 1.0, 1.0,
    2.0, 2.0, 2.0, 1.0, 1.414213562, 1.414213562, 1.0, 1.0,
    2.0, 1.0, 0.0, 0.0, 1.414213562, 1.0, 0.0, 0.0,
    2.236067977, 2.236067977, 2.0, 2.0, 2.236067977, 2.236067977, 2.0, 2.0,
    1.414213562, 1.414213562, 1.414213562, 1.0, 1.414213562, 1.414213562, 1.0, 1.0,
    1.414213562, 1.414213562, 1.414213562, 1.0, 1.414213562, 1.414213562, 1.0, 1.0,
    1.0, 1.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0,
]


def raster_area(cells: DataFrame, *, res_x: float, res_y: float) -> DataFrame:
    """RasterArea (gis_analysis/raster_area.rs): per class value, cell
    count times the cell area. -> (value, area)."""
    from pyspark.sql import functions as F

    return (
        cells.filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg((F.count(F.lit(1)) * F.lit(res_x * res_y)).alias("area"))
    )


def raster_area_oracle_sql(source_sql: str, *, res_x: float, res_y: float) -> str:
    return f"""
SELECT value, count(*) * {res_x * res_y!r} AS area
FROM ({source_sql}) t WHERE value IS NOT NULL GROUP BY value
"""


def raster_perimeter(cells: DataFrame, *, res_x: float, res_y: float) -> DataFrame:
    """RasterPerimeter (gis_analysis/raster_perimeter.rs:517-600): per
    class, the Prewitt-Mendelsohn perimeter estimate — each cell
    contributes LUT[same-class 8-neighbor bitmask] * avg_res (grid-cell
    units scaled once more by avg_res as the reference does).
    -> (value, perimeter)."""
    from pyspark.sql import functions as F

    dxs = [1, 1, 1, 0, -1, -1, -1, 0]
    dys = [-1, 0, 1, 1, 1, 0, -1, -1]
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offs = spark.createDataFrame(
        [(n, dxs[n], dys[n]) for n in range(8)], "n int, dx int, dy int"
    )
    piv = (
        src.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "n", F.col("value").alias("zn"),
        )
        .groupBy("row", "col")
        .agg(*[F.max(F.when(F.col("n") == n, F.col("zn"))).alias(f"z{n}") for n in range(8)])
    )
    g = src.join(piv, ["row", "col"], "left")
    mask = None
    for n in range(8):
        b = F.when(F.col(f"z{n}") == F.col("value"), F.lit(1 << n)).otherwise(F.lit(0))
        mask = b if mask is None else mask + b
    avg_res = (res_x + res_y) / 2.0
    lut = F.array(*[F.lit(v) for v in _PERIM_LUT])
    per_cell = F.element_at(lut, mask + 1) * F.lit(avg_res)
    return g.groupBy("value").agg(F.sum(per_cell).alias("perimeter"))


def raster_perimeter_oracle_sql(source_sql: str, *, res_x: float, res_y: float) -> str:
    dxs = [1, 1, 1, 0, -1, -1, -1, 0]
    dys = [-1, 0, 1, 1, 1, 0, -1, -1]
    offs = ", ".join(f"({n}, {dxs[n]}, {dys[n]})" for n in range(8))
    zcols = ",\n  ".join(
        f"max(CASE WHEN s.n = {n} THEN s.zn END) AS z{n}" for n in range(8)
    )
    mask = " + ".join(
        f"CASE WHEN z{n} = c.value THEN {1 << n} ELSE 0 END" for n in range(8)
    )
    lut_list = "[" + ", ".join(repr(v) for v in _PERIM_LUT) + "]"
    avg_res = (res_x + res_y) / 2.0
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) t WHERE value IS NOT NULL),
offs(n, dx, dy) AS (VALUES {offs}),
g AS (
  SELECT c.row, c.col, any_value(c.value) AS value,
  {zcols}
  FROM src c
  LEFT JOIN (SELECT s0.row - o.dy AS row, s0.col - o.dx AS col, o.n,
                    s0.value AS zn
             FROM src s0 CROSS JOIN offs o) s
    ON c.row = s.row AND c.col = s.col
  GROUP BY c.row, c.col
),
m AS (SELECT value, ({mask}) AS msk FROM (SELECT *, value AS cvalue FROM g) c)
SELECT value,
       sum(list_extract({lut_list}, msk + 1) * {avg_res!r}) AS perimeter
FROM m GROUP BY value
"""


def find_patch_edge_cells(cells: DataFrame) -> DataFrame:
    """FindPatchOrClassEdgeCells (gis_analysis/find_patch_edge_cells.rs):
    1 where any 4-neighbor has a different class (or is absent), else 0.
    -> (row, col, value)."""
    from pyspark.sql import functions as F

    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offs = spark.createDataFrame(
        [(1, 0), (-1, 0), (0, 1), (0, -1)], "dx int, dy int"
    )
    nbr = (
        src.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            F.col("value").alias("zn"),
        )
    )
    agg = nbr.join(src, ["row", "col"]).groupBy("row", "col").agg(
        F.sum(F.when(F.col("zn") != F.col("value"), 1).otherwise(0)).alias("ndiff"),
        F.count(F.lit(1)).alias("nvalid"),
    )
    return src.join(agg, ["row", "col"], "left").select(
        "row", "col",
        F.when(
            F.coalesce(F.col("ndiff"), F.lit(0)) > 0, 1.0
        ).when(F.coalesce(F.col("nvalid"), F.lit(0)) < 4, 1.0).otherwise(0.0)
        .alias("value"),
    )


def find_patch_edge_oracle_sql(source_sql: str) -> str:
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) t WHERE value IS NOT NULL),
nbr AS (
  SELECT c.row, c.col,
         sum(CASE WHEN s.zn <> c.value THEN 1 ELSE 0 END) AS ndiff,
         count(*) AS nvalid
  FROM src c JOIN (SELECT s0.row - o.dy AS row, s0.col - o.dx AS col, s0.value AS zn
                   FROM src s0 CROSS JOIN (VALUES (1,0),(-1,0),(0,1),(0,-1)) o(dx, dy)) s
    ON c.row = s.row AND c.col = s.col
  GROUP BY c.row, c.col
)
SELECT s.row, s.col,
       CASE WHEN coalesce(n.ndiff, 0) > 0 THEN 1.0
            WHEN coalesce(n.nvalid, 0) < 4 THEN 1.0
            ELSE 0.0 END AS value
FROM src s LEFT JOIN nbr n ON n.row = s.row AND n.col = s.col
"""


def update_nodata_cells(a: DataFrame, b: DataFrame) -> DataFrame:
    """UpdateNodataCells (gis_analysis/update_nodata_cells.rs): a's nodata
    cells filled from b. -> (row, col, value) over the union of valid
    cells."""
    from pyspark.sql import functions as F

    av = a.select("row", "col", F.col("value").alias("va"))
    bv = b.filter(F.col("value").isNotNull()).select(
        "row", "col", F.col("value").alias("vb")
    )
    return av.join(bv, ["row", "col"], "full_outer").select(
        "row", "col", F.coalesce(F.col("va"), F.col("vb")).alias("value")
    )


def update_nodata_oracle_sql(a_sql: str, b_sql: str) -> str:
    return f"""
WITH a AS (SELECT row, col, value AS va FROM ({a_sql}) t),
b AS (SELECT row, col, value AS vb FROM ({b_sql}) t WHERE value IS NOT NULL)
SELECT coalesce(a.row, b.row) AS row, coalesce(a.col, b.col) AS col,
       coalesce(a.va, b.vb) AS value
FROM a FULL OUTER JOIN b ON b.row = a.row AND b.col = a.col
"""


def reclass_equal_interval(
    cells: DataFrame, *, interval: float, start_val: float = float("-inf"),
    end_val: float = float("inf"),
) -> DataFrame:
    """ReclassEqualInterval (gis_analysis/reclass_equal_interval.rs):
    z in [start_val, end_val] -> floor(z / interval) * interval, else z
    unchanged. -> (row, col, value)."""
    from pyspark.sql import functions as F

    z = F.col("value")
    out = F.when(
        (z >= start_val) & (z <= end_val),
        F.floor(z / interval) * F.lit(interval),
    ).otherwise(z)
    return cells.filter(z.isNotNull()).select("row", "col", out.alias("value"))


def reclass_equal_interval_oracle_sql(
    source_sql: str, *, interval: float, start_val: float = -1e308,
    end_val: float = 1e308,
) -> str:
    return f"""
SELECT row, col,
       CASE WHEN value >= {start_val!r} AND value <= {end_val!r}
            THEN floor(value / {interval!r}) * {interval!r}
            ELSE value END AS value
FROM ({source_sql}) t WHERE value IS NOT NULL
"""


def radius_of_gyration(
    cells: DataFrame, *, res_x: float, res_y: float
) -> DataFrame:
    """RadiusOfGyration (gis_analysis/radius_of_gyration.rs:230-330): per
    class value, sqrt(mean of squared map-unit distance of its cells from
    the class centroid (in cell-index space, scaled by resolution)).
    -> (value, rog)."""
    from pyspark.sql import functions as F

    src = cells.filter(F.col("value").isNotNull())
    cen = src.groupBy("value").agg(
        F.avg(F.col("col").cast("double")).alias("cx"),
        F.avg(F.col("row").cast("double")).alias("cy"),
    )
    j = src.join(cen, "value")
    d2 = (
        ((F.col("col") - F.col("cx")) * res_x) ** 2
        + ((F.col("row") - F.col("cy")) * res_y) ** 2
    )
    return j.groupBy("value").agg(F.sqrt(F.avg(d2)).alias("rog"))


def radius_of_gyration_oracle_sql(
    source_sql: str, *, res_x: float, res_y: float
) -> str:
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) t WHERE value IS NOT NULL),
cen AS (SELECT value, avg(CAST(col AS DOUBLE)) AS cx,
               avg(CAST(row AS DOUBLE)) AS cy FROM src GROUP BY value)
SELECT s.value,
       sqrt(avg(((s.col - c.cx) * {res_x!r}) * ((s.col - c.cx) * {res_x!r})
                + ((s.row - c.cy) * {res_y!r}) * ((s.row - c.cy) * {res_y!r}))) AS rog
FROM src s JOIN cen c ON c.value = s.value
GROUP BY s.value
"""


def edge_proportion(cells: DataFrame) -> DataFrame:
    """EdgeProportion (gis_analysis/edge_proportion.rs): per class, the
    proportion of its cells that are edge cells (any differing or absent
    4-neighbor). -> (value, proportion)."""
    from pyspark.sql import functions as F

    edges = find_patch_edge_cells(cells).withColumnRenamed("value", "is_edge")
    src = cells.filter(F.col("value").isNotNull())
    j = src.join(edges, ["row", "col"])
    return j.groupBy("value").agg(
        (F.sum("is_edge") / F.count(F.lit(1))).alias("proportion")
    )


def edge_proportion_oracle_sql(source_sql: str) -> str:
    return f"""
WITH e AS ({find_patch_edge_oracle_sql(source_sql)}),
src AS (SELECT row, col, value FROM ({source_sql}) t WHERE value IS NOT NULL)
SELECT s.value, sum(e.value) / count(*) AS proportion
FROM src s JOIN e ON e.row = s.row AND e.col = s.col
GROUP BY s.value
"""


def class_centroid(cells: DataFrame, grid) -> DataFrame:
    """Centroid (gis_analysis/centroid.rs): average cell-center location
    per raster class. -> (value, cx, cy)."""
    from pyspark.sql import functions as F

    src = cells.filter(F.col("value").isNotNull())
    return src.groupBy("value").agg(
        F.expr(f"avg({grid.x_center_sql('col')}) AS cx"), F.expr(f"avg({grid.y_center_sql('row')}) AS cy")
    )


def class_centroid_oracle_sql(source_sql: str, grid) -> str:
    return f"""
SELECT value, avg({grid.x_center_sql("col")}) AS cx,
       avg({grid.y_center_sql("row")}) AS cy
FROM ({source_sql}) t WHERE value IS NOT NULL GROUP BY value
"""


def modify_nodata_value(
    cells: DataFrame, *, old_value: float, new_value: float, value: str = "value"
) -> DataFrame:
    """ModifyNoDataValue (data_tools/modify_no_data_value.rs:116): cells
    holding the old nodata sentinel take the new sentinel. In the NULL-
    nodata cell-table model the sentinel is materialized only in
    sentinel-carrying interchange tables."""
    return cells.withColumn(
        value,
        F.when(F.col(value) == F.lit(old_value), F.lit(new_value)).otherwise(
            F.col(value)
        ),
    )


def set_nodata_value(
    cells: DataFrame, *, back_value: float, value: str = "value"
) -> DataFrame:
    """SetNodataValue (data_tools/set_nodata_value.rs:143): declare a
    sentinel on a raster without one — matching cells become nodata
    (NULL rows are dropped from the cell table)."""
    return cells.filter(F.col(value) != F.lit(back_value))


def reclass_from_file(
    cells: DataFrame, rules_csv_path: str, *, value: str = "value"
) -> DataFrame:
    """ReclassFromFile (data_tools/reclass_from_file.rs): reclass using
    (new, lower, upper) rows loaded from a text/CSV file (same range
    semantics as reclass: [lower, upper) with pass-through for unmatched
    values)."""
    spark = cells.sparkSession
    rules = spark.read.csv(rules_csv_path, header=False, inferSchema=True)
    cols = rules.columns
    rows = [
        (float(r[cols[0]]), float(r[cols[1]]), float(r[cols[2]]))
        for r in rules.collect()
    ]
    return reclass(cells, rows, value=value)
