"""Per-geometry scalar ops (class GEO) + relational attribute ops (class TBL).

Geometry model: long part-table DataFrame
  (poly_id: long, part_idx: int, is_hole: boolean,
   xs: array<double>, ys: array<double>)
with closed rings (first == last vertex) — the decoded form of shapefile
multi-part geometry (SURVEY.md section 1.2).

GEO ops are embarrassingly parallel — one Arrow-batched pandas UDF pass, no
shuffle (except the per-feature part aggregation, which is a narrow groupBy).

References:
  - polygon_area: /root/reference/whitebox-common/src/algorithms/
    poly_area.rs:12 (abs shoelace / 2; net area = shells - holes for
    multi-part records, as in gis_analysis/polygon_area.rs).
  - polygon_perimeter: poly_perimeter.rs:12.
  - CompactnessRatio: gis_analysis/compactness_ratio.rs:121 — P^2/(4*pi*A)
    style shape complexity (we expose area/perimeter-derived ratio).
  - CentroidVector: gis_analysis/centroid_vector.rs:129.
  - JoinTables: data_tools/join_tables.rs:282-330 — hash LEFT join
    pkey == fkey appending import fields.
  - MergeVectors: data_tools/merge_vectors.rs:136 — UNION of same-shape
    layers.
  - MultiPartToSinglePart / SinglePartToMultiPart: data_tools/
    multipart_to_singlepart.rs:139 — part explode / collect.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark import geometry as G


def _part_metrics_udf():
    @F.pandas_udf("struct<area:double, perimeter:double, cx:double, cy:double>")
    def metrics(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        out = {"area": [], "perimeter": [], "cx": [], "cy": []}
        for x, y in zip(xs, ys):
            out["area"].append(G.polygon_area(x, y))
            out["perimeter"].append(G.polygon_perimeter(x, y))
            cx, cy = G.centroid(x, y)
            out["cx"].append(cx)
            out["cy"].append(cy)
        return pd.DataFrame(out)

    return metrics


def polygon_metrics(parts: DataFrame) -> DataFrame:
    """Per-feature net area (shells - holes), total shell perimeter +
    hole perimeters, and area-weighted centroid of the shell parts.
    -> (poly_id, area, perimeter, cx, cy, compactness)."""
    m = _part_metrics_udf()
    per_part = parts.withColumn("m", m(F.col("xs"), F.col("ys")))
    signed = F.when(F.col("is_hole"), -F.col("m.area")).otherwise(F.col("m.area"))
    out = per_part.groupBy("poly_id").agg(
        F.sum(signed).alias("area"),
        F.sum(F.col("m.perimeter")).alias("perimeter"),
        # centroid of the primary (first) shell — reference uses the shell ring
        F.min_by(F.col("m.cx"), F.when(~F.col("is_hole"), F.col("part_idx"))).alias("cx"),
        F.min_by(F.col("m.cy"), F.when(~F.col("is_hole"), F.col("part_idx"))).alias("cy"),
    )
    # CompactnessRatio: perimeter-normalized shape complexity
    return out.withColumn(
        "compactness",
        F.col("perimeter") / (F.lit(2.0 * math.sqrt(math.pi)) * F.sqrt(F.abs(F.col("area")))),
    )


def convex_hull_per_feature(parts: DataFrame) -> DataFrame:
    """MinimumConvexHull-style: hull vertex ring per feature (shell points
    only), computed with the monotone-chain kernel (convex_hull.rs:12)."""
    import numpy as np

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for pid, grp in pdf.groupby("poly_id"):
            shells = grp[~grp["is_hole"]]
            xs = np.concatenate([np.asarray(v) for v in shells["xs"]])
            ys = np.concatenate([np.asarray(v) for v in shells["ys"]])
            hx, hy = G.convex_hull(xs, ys)
            rows.append({"poly_id": pid, "hull_xs": list(hx), "hull_ys": list(hy)})
        return pd.DataFrame(rows, columns=["poly_id", "hull_xs", "hull_ys"])

    return parts.groupBy("poly_id").applyInPandas(
        fn, schema="poly_id long, hull_xs array<double>, hull_ys array<double>"
    )


# ---------------------------------------------------------------------------
# TBL class — the reference's only true relational operators
# ---------------------------------------------------------------------------
def join_tables(
    primary: DataFrame, foreign: DataFrame, pkey: str, fkey: str, import_fields: list[str]
) -> DataFrame:
    """JoinTables (join_tables.rs:282-330): LEFT hash join appending the
    selected fields; broadcast the (small) foreign table."""
    f = foreign.select(F.col(fkey).alias("__k"), *import_fields)
    return primary.join(F.broadcast(f), primary[pkey] == F.col("__k"), "left").drop("__k")


def merge_vectors(layers: list[DataFrame]) -> DataFrame:
    """MergeVectors: UNION ALL by name, missing attributes NULL-filled."""
    out = layers[0]
    for df in layers[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def multipart_to_singlepart(parts: DataFrame) -> DataFrame:
    """Each part becomes its own feature with a fresh sequential fid
    (multipart_to_singlepart.rs:139); deterministic order by
    (poly_id, part_idx). Distributed sequence — no global window."""
    from whitebox_tools_spark.distributed import with_global_seq

    return with_global_seq(parts, ["poly_id", "part_idx"], out_col="fid")


def singlepart_to_multipart(parts: DataFrame, group_field: str) -> DataFrame:
    """SinglePartToMultiPart (data_tools/singlepart_to_multipart.rs:151):
    merge features sharing a group-field value into one multi-part feature;
    new feature ids are 1..n in ascending group-value order, parts
    renumbered by (source poly_id, part_idx). Distributed sequence for the
    ids, per-group window (bounded by group size) for part indexes."""
    from pyspark.sql import Window

    from whitebox_tools_spark.distributed import with_global_seq

    groups = parts.select(group_field).distinct()
    ids = with_global_seq(groups, [group_field], out_col="new_id")
    w = Window.partitionBy(group_field).orderBy("poly_id", "part_idx")
    return (
        parts.join(F.broadcast(ids), group_field)
        .withColumn("new_part_idx", F.row_number().over(w) - 1)
        .select(
            F.col("new_id").alias("poly_id"),
            F.col("new_part_idx").alias("part_idx"),
            "is_hole", "xs", "ys",
            F.col(group_field).alias("group_value"),
        )
    )


def add_point_coordinates_to_table(points: DataFrame, *, x: str = "x", y: str = "y") -> DataFrame:
    """AddPointCoordinatesToTable (data_tools/add_point_coordinates_to_table.rs:110):
    append XCOORD/YCOORD attribute fields."""
    return points.withColumn("XCOORD", F.col(x)).withColumn("YCOORD", F.col(y))


# ---------------------------------------------------------------------------
# shape conversion / cleaning data tools
# ---------------------------------------------------------------------------
def polygons_to_lines(parts: DataFrame) -> DataFrame:
    """PolygonsToLines (data_tools/polygons_to_lines.rs:121): each ring
    becomes a polyline feature; ring vertex order preserved. Distributed
    sequence — no global window."""
    from whitebox_tools_spark.distributed import with_global_seq

    return with_global_seq(parts, ["poly_id", "part_idx"], out_col="fid").select(
        F.col("fid"),
        F.col("poly_id").alias("src_id"),
        "part_idx",
        "xs",
        "ys",
    )


def lines_to_polygons(lines: DataFrame) -> DataFrame:
    """LinesToPolygons (data_tools/lines_to_polygons.rs:127): close each
    polyline (append first vertex when open) and emit as a polygon shell."""
    open_ring = (F.element_at("xs", 1) != F.element_at("xs", -1)) | (
        F.element_at("ys", 1) != F.element_at("ys", -1)
    )
    return lines.select(
        F.col("fid").alias("poly_id"),
        F.lit(0).alias("part_idx"),
        F.lit(False).alias("is_hole"),
        F.when(open_ring, F.concat("xs", F.array(F.element_at("xs", 1)))).otherwise(F.col("xs")).alias("xs"),
        F.when(open_ring, F.concat("ys", F.array(F.element_at("ys", 1)))).otherwise(F.col("ys")).alias("ys"),
    )


def remove_polygon_holes(parts: DataFrame) -> DataFrame:
    """RemovePolygonHoles (data_tools/remove_polygon_holes.rs:122)."""
    return parts.filter(~F.col("is_hole"))


def clean_vector(parts: DataFrame, *, min_vertices: int = 3) -> DataFrame:
    """CleanVector (data_tools/clean_vector.rs:120): drop null geometries and
    rings with fewer than the required distinct vertices (closed ring of a
    triangle has 4 stored points)."""
    return parts.filter(
        F.col("xs").isNotNull() & (F.size("xs") >= min_vertices + 1)
    )


def reinitialize_attribute_table(df: DataFrame, *, fid: str = "fid") -> DataFrame:
    """ReinitializeAttributeTable (data_tools/reinitialize_attribute_table.rs:108):
    keep only the feature id + geometry columns."""
    geom_cols = [c for c in df.columns if c in {fid, "poly_id", "part_idx", "is_hole", "xs", "ys", "x", "y"}]
    return df.select(*geom_cols)


def minimum_bounding_box_per_feature(parts: DataFrame) -> DataFrame:
    """MinimumBoundingBox (data_tools/../minimum_bounding_box.rs:28):
    minimum-area oriented box per feature over shell vertices.
    -> (poly_id, mbb_xs, mbb_ys, mbb_area)."""
    import numpy as np

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for pid, grp in pdf.groupby("poly_id"):
            shells = grp[~grp["is_hole"]]
            xs = np.concatenate([np.asarray(v) for v in shells["xs"]])
            ys = np.concatenate([np.asarray(v) for v in shells["ys"]])
            cx, cy, area = G.minimum_bounding_box(xs, ys)
            rows.append({"poly_id": pid, "mbb_xs": list(cx), "mbb_ys": list(cy),
                         "mbb_area": float(area)})
        return pd.DataFrame(rows, columns=["poly_id", "mbb_xs", "mbb_ys", "mbb_area"])

    return parts.groupBy("poly_id").applyInPandas(
        fn, schema="poly_id long, mbb_xs array<double>, mbb_ys array<double>, mbb_area double"
    )


def _ring0_vertices(parts: DataFrame) -> DataFrame:
    """Exploded vertices of each polygon's FIRST shell ring
    -> (poly_id, x, y)."""
    r0 = parts.filter((F.col("part_idx") == 0) & (~F.col("is_hole")))
    return r0.select(
        "poly_id",
        F.explode(F.arrays_zip(F.col("xs").alias("x"), F.col("ys").alias("y"))).alias("v"),
    ).select("poly_id", F.col("v.x").alias("x"), F.col("v.y").alias("y"))


def perimeter_area_ratio(parts: DataFrame) -> DataFrame:
    """PerimeterAreaRatio (gis_analysis/perimeter_area_ratio.rs): P / A per
    feature (net area, total perimeter). -> (poly_id, ratio)."""
    m = polygon_metrics(parts)
    return m.select(
        "poly_id", (F.col("perimeter") / F.col("area")).alias("ratio")
    )


def hole_proportion(parts: DataFrame) -> DataFrame:
    """HoleProportion (gis_analysis/hole_proportion.rs): total hole area /
    shell area. -> (poly_id, hole_prop)."""
    mm = _part_metrics_udf()
    per = parts.withColumn("m", mm(F.col("xs"), F.col("ys")))
    agg = per.groupBy("poly_id").agg(
        F.sum(F.when(F.col("is_hole"), F.col("m.area")).otherwise(0.0)).alias("ha"),
        F.sum(F.when(~F.col("is_hole"), F.col("m.area")).otherwise(0.0)).alias("sa"),
    )
    return agg.select("poly_id", (F.col("ha") / F.col("sa")).alias("hole_prop"))


def linearity_index(parts: DataFrame) -> DataFrame:
    """LinearityIndex (gis_analysis/linearity_index.rs:225-260): r^2 of the
    first ring's vertex coordinates (translation-invariant, so centering by
    the vertex mean reproduces the reference's midpoint-centered sums).
    -> (poly_id, linearity)."""
    v = _ring0_vertices(parts)
    agg = v.groupBy("poly_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"), F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    sxx = F.col("mxx") - F.col("mx") ** 2
    syy = F.col("myy") - F.col("my") ** 2
    sxy = F.col("mxy") - F.col("mx") * F.col("my")
    return agg.select(
        "poly_id",
        F.when(
            F.sqrt(sxx * syy) != 0.0, (sxy / F.sqrt(sxx * syy)) ** 2
        ).otherwise(0.0).alias("linearity"),
    )


def patch_orientation(parts: DataFrame) -> DataFrame:
    """PatchOrientation (gis_analysis/patch_orientation.rs): 90 -
    degrees(atan(sign(sxy) * sqrt(syy/sxx))) over the first ring's
    vertices. -> (poly_id, orientation)."""
    v = _ring0_vertices(parts)
    agg = v.groupBy("poly_id").agg(
        F.avg("x").alias("mx"), F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    sxx = F.col("mxx") - F.col("mx") ** 2
    syy = F.col("myy") - F.col("my") ** 2
    sxy = F.col("mxy") - F.col("mx") * F.col("my")
    slope = F.when(sxy < 0.0, -F.sqrt(syy / sxx)).otherwise(F.sqrt(syy / sxx))
    return agg.select(
        "poly_id", (F.lit(90.0) - F.degrees(F.atan(slope))).alias("orientation")
    )


def shape_indices_oracle_sql(vertices_cte: str, which: str) -> str:
    """vertices_cte must yield (poly_id, x, y) of the first shell ring."""
    base = f"""
v AS ({vertices_cte}),
agg AS (
  SELECT poly_id, CAST(count(*) AS DOUBLE) AS n,
         avg(x) AS mx, avg(y) AS my, avg(x * y) AS mxy,
         avg(x * x) AS mxx, avg(y * y) AS myy
  FROM v GROUP BY poly_id
),
s AS (
  SELECT poly_id, mxx - mx * mx AS sxx, myy - my * my AS syy,
         mxy - mx * my AS sxy
  FROM agg
)"""
    if which == "linearity":
        return f"""
WITH {base}
SELECT poly_id,
       CASE WHEN sqrt(sxx * syy) <> 0.0
            THEN (sxy / sqrt(sxx * syy)) * (sxy / sqrt(sxx * syy))
            ELSE 0.0 END AS linearity
FROM s
"""
    return f"""
WITH {base}
SELECT poly_id,
       90.0 - degrees(atan(CASE WHEN sxy < 0.0 THEN -sqrt(syy / sxx)
                                ELSE sqrt(syy / sxx) END)) AS orientation
FROM s
"""


def minimum_bounding_envelope(parts: DataFrame) -> DataFrame:
    """MinimumBoundingEnvelope (gis_analysis/minimum_bounding_envelope.rs):
    axis-aligned bbox per feature (shell parts).
    -> (poly_id, min_x, max_x, min_y, max_y)."""
    v = parts.filter(~F.col("is_hole")).select(
        "poly_id",
        F.explode(F.arrays_zip(F.col("xs").alias("x"), F.col("ys").alias("y"))).alias("v"),
    ).select("poly_id", F.col("v.x").alias("x"), F.col("v.y").alias("y"))
    return v.groupBy("poly_id").agg(
        F.min("x").alias("min_x"), F.max("x").alias("max_x"),
        F.min("y").alias("min_y"), F.max("y").alias("max_y"),
    )


def extract_nodes(parts: DataFrame) -> DataFrame:
    """ExtractNodes (gis_analysis/extract_nodes.rs): one point per vertex
    of every part. -> (poly_id, part_idx, idx, x, y)."""
    return parts.select(
        "poly_id", "part_idx",
        F.posexplode(F.arrays_zip(F.col("xs").alias("x"), F.col("ys").alias("y"))).alias("idx", "v"),
    ).select(
        "poly_id", "part_idx", F.col("idx").cast("long").alias("idx"),
        F.col("v.x").alias("x"), F.col("v.y").alias("y"),
    )


def smooth_vectors(parts: DataFrame, *, filter_size: int = 3) -> DataFrame:
    """SmoothVectors (gis_analysis/smooth_vectors.rs:250-280, polyline
    semantics): per part, each INTERIOR vertex becomes the moving average
    of the window (clamped to the part, endpoints pinned); parts with < 4
    vertices unchanged. Partitioned window over (poly_id, part_idx) —
    scale-safe. -> (poly_id, part_idx, idx, x, y)."""
    from pyspark.sql import Window

    h = filter_size // 2
    v = extract_nodes(parts)
    counts = v.groupBy("poly_id", "part_idx").agg(F.max("idx").alias("last"))
    w = (
        Window.partitionBy("poly_id", "part_idx").orderBy("idx")
        .rowsBetween(-h, h)
    )
    sm = v.select(
        "poly_id", "part_idx", "idx", "x", "y",
        F.avg("x").over(w).alias("sx"), F.avg("y").over(w).alias("sy"),
    ).join(counts, ["poly_id", "part_idx"])
    interior = (F.col("idx") > 0) & (F.col("idx") < F.col("last")) & (F.col("last") > 2)
    return sm.select(
        "poly_id", "part_idx", "idx",
        F.when(interior, F.col("sx")).otherwise(F.col("x")).alias("x"),
        F.when(interior, F.col("sy")).otherwise(F.col("y")).alias("y"),
    )


def medoid(points: DataFrame, *, id_col: str = "point_id") -> DataFrame:
    """Medoid (gis_analysis/medoid.rs:230-280, point input): the member
    point nearest to the (median x, median y); squared-distance ties break
    to the lowest id (the reference's scan order). -> one row (point_id,
    x, y)."""
    med = points.agg(
        F.median("x").alias("mx"), F.median("y").alias("my")
    )
    j = points.crossJoin(F.broadcast(med))
    d2 = (F.col("x") - F.col("mx")) ** 2 + (F.col("y") - F.col("my")) ** 2
    pick = j.agg(
        F.min(
            F.struct(d2.alias("d"), F.col(id_col).alias("pid"),
                     F.col("x").alias("px"), F.col("y").alias("py"))
        ).alias("w")
    )
    return pick.select(
        F.col("w.pid").alias("point_id"), F.col("w.px").alias("x"),
        F.col("w.py").alias("y"),
    )


def medoid_oracle_sql(points_sql: str) -> str:
    return f"""
WITH pts AS ({points_sql}),
med AS (SELECT median(x) AS mx, median(y) AS my FROM pts),
pick AS (
  SELECT min(struct_pack(
           d := (p.x - m.mx) * (p.x - m.mx) + (p.y - m.my) * (p.y - m.my),
           pid := p.point_id, px := p.x, py := p.y)) AS w
  FROM pts p, med m
)
SELECT (w).pid AS point_id, (w).px AS x, (w).py AS y FROM pick
"""


def line_intersections(a_edges: DataFrame, b_edges: DataFrame) -> DataFrame:
    """LineIntersections (gis_analysis/line_intersections.rs,
    line_ops.rs:95): proper/touching POINT intersections between every
    segment of layer A and layer B (collinear-overlap segments are not
    reported — documented deviation). Inputs: (poly_id, x0, y0, x1, y1)
    segment tables.

    Spark plan: grid-cell candidate EQUI-join (no cartesian). A shared
    CellIndex is sized from one tiny driver-side stats row at the 99th
    percentile of segment bbox extent; each segment covers its TRAVERSED
    cells (padded 1 cell, overlay.segment_cover_cells_sql) — linear in
    segment length even for the rare globally-long diagonal whose BBOX
    cover would be quadratic (the round-4 ADVICE heavy-tail blowup).
    Every true intersection point lies on both segments, so its cell is
    in both covers; each surviving pair is kept only in the one cell
    containing the intersection point, so the pair emits exactly once.
    -> distinct (parent1, parent2, x, y) with 6dp coordinates."""
    from whitebox_tools_spark.grid import CellIndex
    from whitebox_tools_spark.operators.overlay import segment_cover_cells_sql

    a = a_edges.select(
        F.col("poly_id").alias("parent1"),
        F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
    )
    b = b_edges.select(
        F.col("poly_id").alias("parent2"),
        F.col("x0").alias("bx0"), F.col("y0").alias("by0"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
    )

    # one-row stats aggregate (driver-side; bounded) to size the grid
    import math

    def _seg_stats(df, x0, y0, x1, y1):
        return df.select(
            F.least(x0, x1).alias("mnx"), F.greatest(x0, x1).alias("mxx"),
            F.least(y0, y1).alias("mny"), F.greatest(y0, y1).alias("mxy"),
            (F.greatest(x0, x1) - F.least(x0, x1)).alias("dx"),
            (F.greatest(y0, y1) - F.least(y0, y1)).alias("dy"),
        )
    st = (
        _seg_stats(a, F.col("ax0"), F.col("ay0"), F.col("ax1"), F.col("ay1"))
        .unionAll(_seg_stats(b, F.col("bx0"), F.col("by0"), F.col("bx1"), F.col("by1")))
        .agg(
            F.min("mnx").alias("xmin"), F.max("mxx").alias("xmax"),
            F.min("mny").alias("ymin"), F.max("mxy").alias("ymax"),
            F.percentile_approx(F.greatest("dx", "dy"), F.lit(0.99)).alias("p99"),
        )
        .collect()[0]
    )
    extent = max(st.xmax - st.xmin, st.ymax - st.ymin, 1e-9) * (1.0 + 1e-9)
    # size cells from the 99th-percentile segment extent, NOT the max: one
    # globally-long segment then covers proportionally more cells (a bounded
    # explode on that row alone) instead of inflating every segment's cell.
    # Pair results are bit-identical — the intersection arithmetic still runs
    # on full segment coordinates; only candidate routing changes.
    cell_target = max(st.p99, extent / (1 << 12), 1e-12)
    zoom = max(0, min(12, int(math.floor(math.log2(extent / cell_target)))))
    index = CellIndex(origin_x=float(st.xmin), origin_y=float(st.ymin),
                      extent=float(extent), zoom=zoom)

    ac = a.selectExpr("*", f"explode({segment_cover_cells_sql(index, 'ax0', 'ay0', 'ax1', 'ay1')}) AS cell_id")
    bc = b.selectExpr("*", f"explode({segment_cover_cells_sql(index, 'bx0', 'by0', 'bx1', 'by1')}) AS cell_id")
    bbox = (
        (F.least("ax0", "ax1") <= F.greatest("bx0", "bx1"))
        & (F.greatest("ax0", "ax1") >= F.least("bx0", "bx1"))
        & (F.least("ay0", "ay1") <= F.greatest("by0", "by1"))
        & (F.greatest("ay0", "ay1") >= F.least("by0", "by1"))
    )
    j = ac.join(bc, "cell_id").filter(bbox)
    rx = F.col("ax1") - F.col("ax0")
    ry = F.col("ay1") - F.col("ay0")
    sx = F.col("bx1") - F.col("bx0")
    sy = F.col("by1") - F.col("by0")
    den = rx * sy - ry * sx
    qpx = F.col("bx0") - F.col("ax0")
    qpy = F.col("by0") - F.col("ay0")
    t = (qpx * sy - qpy * sx) / den
    u = (qpx * ry - qpy * rx) / den
    ix = F.col("ax0") + t * rx
    iy = F.col("ay0") + t * ry
    # keep each pair only in the cell containing its intersection point —
    # that cell is in BOTH traversal covers (the point lies on both
    # segments, pads absorb float drift), so the pair emits exactly once
    hit = j.filter(
        (den != 0.0) & (t >= 0.0) & (t <= 1.0) & (u >= 0.0) & (u <= 1.0)
        & (F.col("cell_id") == index.cell_of_xy_expr(ix, iy))
    )
    return hit.select(
        "parent1", "parent2",
        F.round(ix, 6).alias("x"),
        F.round(iy, 6).alias("y"),
    ).distinct()


def line_intersections_oracle_sql(a_edges_sql: str, b_edges_sql: str) -> str:
    return f"""
WITH a AS (SELECT poly_id AS parent1, x0 AS ax0, y0 AS ay0, x1 AS ax1, y1 AS ay1
           FROM ({a_edges_sql}) t),
b AS (SELECT poly_id AS parent2, x0 AS bx0, y0 AS by0, x1 AS bx1, y1 AS by1
      FROM ({b_edges_sql}) t),
j AS (
  SELECT * FROM a CROSS JOIN b
  WHERE least(ax0, ax1) <= greatest(bx0, bx1)
    AND greatest(ax0, ax1) >= least(bx0, bx1)
    AND least(ay0, ay1) <= greatest(by0, by1)
    AND greatest(ay0, ay1) >= least(by0, by1)
),
c AS (
  SELECT parent1, parent2,
         (ax1 - ax0) AS rx, (ay1 - ay0) AS ry,
         (bx1 - bx0) AS sx, (by1 - by0) AS sy,
         (bx0 - ax0) AS qpx, (by0 - ay0) AS qpy,
         ax0, ay0,
         (ax1 - ax0) * (by1 - by0) - (ay1 - ay0) * (bx1 - bx0) AS den
  FROM j
),
hit AS (
  SELECT parent1, parent2, ax0, ay0, rx, ry,
         (qpx * sy - qpy * sx) / den AS t,
         (qpx * ry - qpy * rx) / den AS u
  FROM c WHERE den <> 0.0
)
SELECT DISTINCT parent1, parent2,
       round(ax0 + t * rx, 6) AS x, round(ay0 + t * ry, 6) AS y
FROM hit WHERE t >= 0.0 AND t <= 1.0 AND u >= 0.0 AND u <= 1.0
"""


def shape_complexity_index(parts: DataFrame) -> DataFrame:
    """ShapeComplexityIndex (gis_analysis/shape_complexity_index.rs:218-245):
    1 - shell area / convex hull area per feature (one hull over all shell
    vertices; the reference hulls each part separately — identical for
    single-shell features). -> (poly_id, sci)."""
    hull = convex_hull_per_feature(parts)
    m = _part_metrics_udf()
    hull_area = hull.withColumn(
        "hm", m(F.col("hull_xs"), F.col("hull_ys"))
    ).select("poly_id", F.col("hm.area").alias("hull_area"))
    per = parts.withColumn("m", m(F.col("xs"), F.col("ys")))
    shells = per.filter(~F.col("is_hole")).groupBy("poly_id").agg(
        F.sum("m.area").alias("area")
    )
    return shells.join(hull_area, "poly_id").select(
        "poly_id", (F.lit(1.0) - F.col("area") / F.col("hull_area")).alias("sci")
    )


def elongation_ratio(parts: DataFrame) -> DataFrame:
    """ElongationRatio (gis_analysis/elongation_ratio.rs): E = 1 - S/L
    with S/L the short/long side of the minimum-area oriented bounding
    box over shell vertices. -> (poly_id, elongation)."""
    mbb = minimum_bounding_box_per_feature(parts)
    d = lambda i, j: F.sqrt(  # noqa: E731
        (F.element_at("mbb_xs", i) - F.element_at("mbb_xs", j)) ** 2
        + (F.element_at("mbb_ys", i) - F.element_at("mbb_ys", j)) ** 2
    )
    s1, s2 = d(1, 2), d(2, 3)
    return mbb.select(
        "poly_id",
        (F.lit(1.0) - F.least(s1, s2) / F.greatest(s1, s2)).alias("elongation"),
    )


def polygon_long_axis(parts: DataFrame) -> DataFrame:
    """PolygonLongAxis (gis_analysis/polygon_long_axis.rs): the longer
    primary axis of the minimum-area oriented bounding box; this engine
    reports its LENGTH per feature (the reference draws the line feature).
    -> (poly_id, length)."""
    mbb = minimum_bounding_box_per_feature(parts)
    d = lambda i, j: F.sqrt(  # noqa: E731
        (F.element_at("mbb_xs", i) - F.element_at("mbb_xs", j)) ** 2
        + (F.element_at("mbb_ys", i) - F.element_at("mbb_ys", j)) ** 2
    )
    return mbb.select(
        "poly_id", F.greatest(d(1, 2), d(2, 3)).alias("length")
    )


def polygon_short_axis(parts: DataFrame) -> DataFrame:
    """PolygonShortAxis (gis_analysis/polygon_short_axis.rs): the shorter
    MBB axis length per feature. -> (poly_id, length)."""
    mbb = minimum_bounding_box_per_feature(parts)
    d = lambda i, j: F.sqrt(  # noqa: E731
        (F.element_at("mbb_xs", i) - F.element_at("mbb_xs", j)) ** 2
        + (F.element_at("mbb_ys", i) - F.element_at("mbb_ys", j)) ** 2
    )
    return mbb.select(
        "poly_id", F.least(d(1, 2), d(2, 3)).alias("length")
    )


def _welzl_mbc(xs, ys):
    """Smallest enclosing circle, deterministic O(n^3) exact form: the
    minimal-radius circle through 2 (diameter) or 3 points covering all
    (whitebox-common/src/algorithms/smallest_enclosing_circle — same
    geometry, brute-force instead of Welzl recursion; features are small)."""
    import numpy as np

    pts = np.stack([np.asarray(xs, float), np.asarray(ys, float)], axis=1)
    pts = np.unique(pts, axis=0)
    n = len(pts)
    if n == 1:
        return float(pts[0, 0]), float(pts[0, 1]), 0.0
    best = None
    eps = 1e-9

    def covers(cx, cy, r):
        return np.all((pts[:, 0] - cx) ** 2 + (pts[:, 1] - cy) ** 2 <= (r + eps) ** 2)

    for i in range(n):
        for j in range(i + 1, n):
            cx = (pts[i, 0] + pts[j, 0]) / 2.0
            cy = (pts[i, 1] + pts[j, 1]) / 2.0
            r = math.hypot(pts[i, 0] - cx, pts[i, 1] - cy)
            if (best is None or r < best[2]) and covers(cx, cy, r):
                best = (cx, cy, r)
    for i in range(n):
        for j in range(i + 1, n):
            for k in range(j + 1, n):
                ax, ay = pts[i]
                bx, by = pts[j]
                cx_, cy_ = pts[k]
                d = 2.0 * (ax * (by - cy_) + bx * (cy_ - ay) + cx_ * (ay - by))
                if d == 0.0:
                    continue
                ux = (
                    (ax * ax + ay * ay) * (by - cy_)
                    + (bx * bx + by * by) * (cy_ - ay)
                    + (cx_ * cx_ + cy_ * cy_) * (ay - by)
                ) / d
                uy = (
                    (ax * ax + ay * ay) * (cx_ - bx)
                    + (bx * bx + by * by) * (ax - cx_)
                    + (cx_ * cx_ + cy_ * cy_) * (bx - ax)
                ) / d
                r = math.hypot(ax - ux, ay - uy)
                if (best is None or r < best[2]) and covers(ux, uy, r):
                    best = (ux, uy, r)
    return float(best[0]), float(best[1]), float(best[2])


def minimum_bounding_circle(parts: DataFrame) -> DataFrame:
    """MinimumBoundingCircle (gis_analysis/minimum_bounding_circle.rs):
    smallest enclosing circle of each feature's shell vertices.
    -> (poly_id, cx, cy, radius)."""
    import pandas as pd

    shells = parts.filter(~F.col("is_hole")).select("poly_id", "xs", "ys")

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        xs = np.concatenate([np.asarray(v, float) for v in pdf["xs"]])
        ys = np.concatenate([np.asarray(v, float) for v in pdf["ys"]])
        cx, cy, r = _welzl_mbc(xs, ys)
        return pd.DataFrame(
            {"poly_id": [int(key[0])], "cx": [cx], "cy": [cy], "radius": [r]}
        )

    return shells.groupBy("poly_id").applyInPandas(
        kernel, "poly_id long, cx double, cy double, radius double"
    )


def related_circumscribing_circle(parts: DataFrame) -> DataFrame:
    """RelatedCircumscribingCircle (gis_analysis/
    related_circumscribing_circle.rs:220-240): 1 - area / sum over PARTS
    of the part's smallest-enclosing-circle area. -> (poly_id, value)."""
    import pandas as pd

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        area = 0.0
        area_circ = 0.0
        for r in pdf.itertuples(index=False):
            xs = np.asarray(r.xs, float)
            ys = np.asarray(r.ys, float)
            a = abs(G.signed_area2(xs, ys)) / 2.0
            area += -a if r.is_hole else a
            _cx, _cy, rad = _welzl_mbc(xs, ys)
            area_circ += math.pi * rad * rad
        return pd.DataFrame(
            {"poly_id": [int(key[0])], "value": [1.0 - area / area_circ]}
        )

    return parts.groupBy("poly_id").applyInPandas(
        kernel, "poly_id long, value double"
    )


def merge_table_with_csv(
    primary: DataFrame, csv_table: DataFrame, pkey: str, fkey: str,
    import_fields: list[str],
) -> DataFrame:
    """MergeTableWithCsv (data_tools/merge_table_with_csv.rs:185): the
    JoinTables left-join with a CSV-sourced foreign table (load with
    sources.csv_points_to_vector / spark.read.csv)."""
    return join_tables(primary, csv_table, pkey, fkey, import_fields)


def create_rectangular_vector_grid(
    spark, *, min_x: float, min_y: float, max_x: float, max_y: float,
    width: float, height: float,
) -> DataFrame:
    """CreateRectangularVectorGrid (gis_analysis/
    create_rectangular_vector_grid.rs): grid cell polygons anchored at
    (min_x, min_y). -> (fid, col, row, xs, ys) with fid scan-ordered
    (row-major from the south-west), pure sequence expressions."""
    import math as _m

    ncols = int(_m.ceil((max_x - min_x) / width))
    nrows = int(_m.ceil((max_y - min_y) / height))
    cols = spark.range(ncols).select(F.col("id").alias("col"))
    rows = spark.range(nrows).select(F.col("id").alias("row"))
    g = rows.crossJoin(cols)
    x0 = F.lit(min_x) + F.col("col") * F.lit(width)
    y0 = F.lit(min_y) + F.col("row") * F.lit(height)
    x1 = x0 + F.lit(width)
    y1 = y0 + F.lit(height)
    return g.select(
        (F.col("row") * ncols + F.col("col") + 1).alias("fid"),
        "col", "row",
        F.array(x0, x1, x1, x0, x0).alias("xs"),
        F.array(y0, y0, y1, y1, y0).alias("ys"),
    )


def create_hexagonal_vector_grid(
    spark, *, min_x: float, min_y: float, max_x: float, max_y: float,
    width: float,
) -> DataFrame:
    """CreateHexagonalVectorGrid (gis_analysis/
    create_hexagonal_vector_grid.rs): pointy-top hexagon lattice covering
    the extent (the hex_binning lattice geometry: horizontal pitch
    1.5*size... mirrored from tiling.py's cos30 lattice). -> (fid, col,
    row, cx, cy) hexagon centers plus the 6-vertex ring."""
    import math as _m

    size = width / 2.0
    half_w = _m.cos(_m.pi / 6.0) * size  # sqrt(3)/2 * size
    # column pitch = 2*half_w (flat horizontal packing), row pitch 1.5*size
    ncols = int(_m.ceil((max_x - min_x) / (2.0 * half_w))) + 1
    nrows = int(_m.ceil((max_y - min_y) / (1.5 * size))) + 1
    cols = spark.range(ncols).select(F.col("id").alias("col"))
    rows = spark.range(nrows).select(F.col("id").alias("row"))
    g = rows.crossJoin(cols)
    cx = (
        F.lit(min_x)
        + F.col("col") * F.lit(2.0 * half_w)
        + (F.col("row") % 2) * F.lit(half_w)
    )
    cy = F.lit(min_y) + F.col("row") * F.lit(1.5 * size)
    xs = F.array(
        *[cx + F.lit(half_w * v) for v in (0.0, 1.0, 1.0, 0.0, -1.0, -1.0, 0.0)]
    )
    ys = F.array(
        *[
            cy + F.lit(size * v)
            for v in (-1.0, -0.5, 0.5, 1.0, 0.5, -0.5, -1.0)
        ]
    )
    return g.select(
        (F.col("row") * ncols + F.col("col") + 1).alias("fid"),
        "col", "row", cx.alias("cx"), cy.alias("cy"), xs.alias("xs"), ys.alias("ys"),
    )


def extend_vector_lines(
    lines: DataFrame, *, dist: float, mode: str = "both"
) -> DataFrame:
    """ExtendVectorLines (gis_analysis/extend_vector_lines.rs): move each
    polyline's first/last vertex outward by `dist` along its terminal
    segment direction. lines: (line_id, xs, ys); mode in
    {'both', 'starts', 'ends'}."""
    xs, ys = F.col("xs"), F.col("ys")
    n = F.size(xs)
    dx0 = F.element_at(xs, 1) - F.element_at(xs, 2)
    dy0 = F.element_at(ys, 1) - F.element_at(ys, 2)
    l0 = F.sqrt(dx0 * dx0 + dy0 * dy0)
    dxn = F.element_at(xs, n) - F.element_at(xs, n - 1)
    dyn = F.element_at(ys, n) - F.element_at(ys, n - 1)
    ln = F.sqrt(dxn * dxn + dyn * dyn)
    sx = F.element_at(xs, 1) + F.lit(dist) * dx0 / l0
    sy = F.element_at(ys, 1) + F.lit(dist) * dy0 / l0
    ex = F.element_at(xs, n) + F.lit(dist) * dxn / ln
    ey = F.element_at(ys, n) + F.lit(dist) * dyn / ln
    do_start = mode in ("both", "starts")
    do_end = mode in ("both", "ends")
    new_xs = xs
    new_ys = ys
    if do_start:
        new_xs = F.concat(F.array(sx), F.slice(new_xs, 2, 1_000_000))
        new_ys = F.concat(F.array(sy), F.slice(new_ys, 2, 1_000_000))
    if do_end:
        new_xs = F.concat(F.slice(new_xs, 1, F.size(new_xs) - 1), F.array(ex))
        new_ys = F.concat(F.slice(new_ys, 1, F.size(new_ys) - 1), F.array(ey))
    # single projection: both replacements must resolve against the
    # ORIGINAL xs/ys (sequential withColumn would rebind by name)
    others = [c for c in lines.columns if c not in ("xs", "ys")]
    return lines.select(*others, new_xs.alias("xs"), new_ys.alias("ys"))


def layer_footprint(parts: DataFrame) -> DataFrame:
    """LayerFootprint (gis_analysis/layer_footprint.rs, bounding-box mode):
    one rectangle feature covering the layer's full extent.
    -> single row (xmin, ymin, xmax, ymax)."""
    return parts.select(
        F.explode("xs").alias("x")
    ).agg(F.min("x").alias("xmin"), F.max("x").alias("xmax")).crossJoin(
        parts.select(F.explode("ys").alias("y")).agg(
            F.min("y").alias("ymin"), F.max("y").alias("ymax")
        )
    ).select("xmin", "ymin", "xmax", "ymax")


def merge_line_segments(lines: DataFrame, *, snap: float = 0.0) -> DataFrame:
    """MergeLineSegments (gis_analysis/merge_line_segments.rs): join lines
    whose end vertices coincide (within `snap`; 0 = exact at 9 dp) unless
    the shared node touches a third feature (bifurcation). lines:
    (line_id, xs, ys). -> (merged_id = min member line_id, n_lines,
    total_len) per merged polyline.

    Distributed shape: endpoint hash aggregate for node degrees, an
    equi-join for degree-2 line pairs, then O(log n) min-label rounds for
    the chain components (the same label-propagation idiom as clump)."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    if snap > 0.0:
        kx = F.floor(F.col("x") / F.lit(snap) + F.lit(0.5)).cast("long")
        ky = F.floor(F.col("y") / F.lit(snap) + F.lit(0.5)).cast("long")
    else:
        kx = F.round(F.col("x"), 9)
        ky = F.round(F.col("y"), 9)
    # polyline length via lag over exploded vertices (mirrors the oracle)
    verts = lines.select(
        "line_id", F.posexplode(F.arrays_zip("xs", "ys")).alias("i", "v")
    ).select("line_id", "i", F.col("v.xs").alias("x"), F.col("v.ys").alias("y"))
    from pyspark.sql import Window as _W

    w = _W.partitionBy("line_id").orderBy("i")
    seg = verts.withColumn("px", F.lag("x").over(w)).withColumn(
        "py", F.lag("y").over(w)
    )
    lens = seg.groupBy("line_id").agg(
        F.sum(
            F.when(
                F.col("px").isNotNull(),
                F.sqrt((F.col("x") - F.col("px")) ** 2 + (F.col("y") - F.col("py")) ** 2),
            ).otherwise(F.lit(0.0))
        ).alias("len")
    )
    ends = lines.select(
        "line_id",
        F.explode(
            F.array(
                F.struct(
                    F.element_at("xs", 1).alias("x"), F.element_at("ys", 1).alias("y")
                ),
                F.struct(
                    F.element_at("xs", -1).alias("x"), F.element_at("ys", -1).alias("y")
                ),
            )
        ).alias("p"),
    ).select("line_id", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    keyed = ends.select("line_id", F.struct(kx.alias("kx"), ky.alias("ky")).alias("node"))
    deg = keyed.groupBy("node").agg(
        F.count(F.lit(1)).alias("deg"), F.collect_set("line_id").alias("members")
    )
    pairs = (
        deg.filter((F.col("deg") == 2) & (F.size("members") == 2))
        .select(
            F.array_min("members").alias("a"), F.array_max("members").alias("b")
        )
        .distinct()
    )
    lab = lines.select("line_id", F.col("line_id").alias("lab")).localCheckpoint(
        eager=True
    )
    und = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    for _ in range(64):
        prop = (
            und.join(lab, und["a"] == lab["line_id"])
            .select(F.col("b").alias("line_id"), "lab")
            .groupBy("line_id")
            .agg(F.min("lab").alias("nlab"))
        )
        relaxed = lab.join(prop, ["line_id"], "left").select(
            "line_id",
            F.least(F.col("lab"), F.coalesce("nlab", F.col("lab"))).alias("lab"),
        )
        # pointer-doubling shortcut: lab <- min(lab, lab[lab]) halves the
        # remaining chain depth, so rounds are O(log diameter)
        short = relaxed.alias("x").join(
            relaxed.alias("y"), F.col("x.lab") == F.col("y.line_id"), "left"
        ).select(
            F.col("x.line_id").alias("line_id"),
            F.least(F.col("x.lab"), F.coalesce(F.col("y.lab"), F.col("x.lab"))).alias("l2"),
        )
        nxt = lab.select("line_id", F.col("lab").alias("l1")).join(short, ["line_id"])
        done = nxt.filter(F.col("l2") != F.col("l1")).limit(1).isEmpty()
        lab = nxt.select("line_id", F.col("l2").alias("lab")).transform(loop_checkpoint)
        if done:
            break
    return (
        lab.join(lens, "line_id")
        .groupBy("lab")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("len"), 6).alias("total_len"),
        )
        .select(F.col("lab").alias("merged_id"), "n_lines", "total_len")
    )


def split_vector_lines(lines: DataFrame, *, length: float) -> DataFrame:
    """split_vector_lines plugin (whitebox-plugins/src/split_vector_lines/
    main.rs:240-300): greedily cut each polyline into segments of at most
    `length`, inserting interpolated break vertices at exact cumulative-
    length boundaries. lines: (line_id, xs, ys); single-part lines (the
    reference re-reads record.points[0] for later parts — a multi-part
    quirk with no analogue here). -> (line_id, part_idx, n_vertices,
    seg_len). Per-line Arrow kernel (lines are tiny vs rasters)."""
    import math as _math

    import pandas as pd

    L = float(length)

    def kernel(key, pdf):
        out = []
        for _, row in pdf.iterrows():
            xs, ys = list(row["xs"]), list(row["ys"])
            lid = int(row["line_id"])
            pts = [(xs[0], ys[0])]
            dist = 0.0
            part = 0
            i = 1
            while i < len(xs):
                x1, y1 = pts[-1]
                x2, y2 = xs[i], ys[i]
                d = _math.hypot(x2 - x1, y2 - y1)
                if dist + d <= L and d > 0.0:
                    pts.append((x2, y2))
                    dist += d
                elif d > 0.0:
                    ratio = (L - dist) / d
                    bx, by = x1 + ratio * (x2 - x1), y1 + ratio * (y2 - y1)
                    pts.append((bx, by))
                    out.append((lid, part, len(pts), L))
                    part += 1
                    pts = [(bx, by)]
                    dist = 0.0
                    i -= 1
                i += 1
            if len(pts) > 1:
                out.append((lid, part, len(pts), dist))
        return pd.DataFrame(out, columns=["line_id", "part_idx", "n_vertices", "seg_len"])

    return lines.groupBy("line_id").applyInPandas(
        kernel, "line_id long, part_idx long, n_vertices long, seg_len double"
    )


def deviation_from_regional_direction(
    parts: DataFrame, *, elong_threshold: float = 0.75
) -> DataFrame:
    """DeviationFromRegionalDirection (gis_analysis/
    deviation_from_regional_direction.rs:230-412): per-polygon RMA long-
    axis orientation vs the elongation/length-weighted axial mean
    direction of all polygons; deviations folded to [0, 90] degrees.
    Orientation reuses the PatchOrientation RMA sums; axes reuse the
    min-area MBB kernel; the regional direction is ONE weighted axial-sum
    aggregate broadcast back. -> (poly_id, dev_dir)."""
    v = _ring0_vertices(parts)
    agg = v.groupBy("poly_id").agg(
        F.avg("x").alias("mx"), F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    sxx = F.col("mxx") - F.col("mx") ** 2
    syy = F.col("myy") - F.col("my") ** 2
    sxy = F.col("mxy") - F.col("mx") * F.col("my")
    slope = F.when(sxy < 0.0, -F.sqrt(syy / sxx)).otherwise(F.sqrt(syy / sxx))
    ori = agg.select("poly_id", F.atan(slope).alias("theta"))

    mbb = minimum_bounding_box_per_feature(parts)
    d = lambda i, j: F.sqrt(  # noqa: E731
        (F.element_at("mbb_xs", i) - F.element_at("mbb_xs", j)) ** 2
        + (F.element_at("mbb_ys", i) - F.element_at("mbb_ys", j)) ** 2
    )
    s1, s2 = d(1, 2), d(2, 3)
    axes = mbb.select(
        "poly_id",
        F.greatest(s1, s2).alias("long_axis"),
        (F.lit(1.0) - F.least(s1, s2) / F.greatest(s1, s2)).alias("elong"),
    )
    per = ori.join(axes, "poly_id").withColumn(
        "weight",
        F.when(F.col("elong") >= F.lit(elong_threshold), F.col("long_axis") * F.col("elong")).otherwise(F.lit(0.0)),
    )
    reg = per.agg(
        F.sum(F.sin(F.col("theta") * 2.0) * F.col("weight")).alias("ss"),
        F.sum(F.cos(F.col("theta") * 2.0) * F.col("weight")).alias("sc"),
    ).withColumn(
        "regional",
        -F.degrees(F.atan2(F.col("ss"), F.col("sc")) / 2.0) + F.lit(90.0),
    ).withColumn(
        "regional",
        F.when(F.col("regional") < 0.0, F.lit(180.0) + F.col("regional")).otherwise(F.col("regional")),
    )
    out = per.crossJoin(F.broadcast(reg.select("regional"))).withColumn(
        "slope_deg", F.lit(90.0) - F.degrees(F.col("theta"))
    ).withColumn(
        "dev", F.col("slope_deg") - F.col("regional")
    ).withColumn(
        "dev", F.when(F.col("dev") < 0.0, F.col("dev") + 180.0).otherwise(F.col("dev"))
    ).withColumn(
        "dev", F.when(F.col("dev") > 90.0, F.lit(180.0) - F.col("dev")).otherwise(F.col("dev"))
    )
    return out.select("poly_id", F.col("dev").alias("dev_dir"))


def minimum_convex_hull(parts: DataFrame, *, per_feature: bool = True) -> DataFrame:
    """MinimumConvexHull (gis_analysis/minimum_convex_hull.rs:210-280; hull
    algorithm whitebox-common/src/algorithms/convex_hull.rs:12-40 — a Graham
    scan that keeps only strict Left turns, so collinear boundary points are
    dropped and the vertex SET is exactly the extreme points of the feature,
    algorithm-invariant). This engine computes the set with Andrew's monotone
    chain per feature inside one Arrow batch (same set, O(n log n)), over ALL
    parts of the record including holes (the reference pools record.points).
    Ring order is re-expressed engine-invariantly: clockwise by angle around
    the hull's bbox center ((min+max)/2, associative-exact), seq 1-based from
    the reference's start vertex (lowest y, then rightmost x). Duplicate
    coordinates are deduped first (a duplicate cannot be a distinct extreme
    point). per_feature=False pools every vertex into one hull with
    poly_id = 1 (the reference's Point-input mode).
    -> (poly_id, seq, x, y)."""
    from pyspark.sql import Window

    v = parts.select(
        "poly_id",
        F.explode(F.arrays_zip(F.col("xs").alias("x"), F.col("ys").alias("y"))).alias("v"),
    ).select("poly_id", F.col("v.x").alias("x"), F.col("v.y").alias("y"))
    if not per_feature:
        v = v.select(F.lit(1).cast("long").alias("poly_id"), "x", "y")
    v = v.distinct()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        out = []
        for pid, g in pdf.groupby("poly_id"):
            pts = sorted(set(zip(g["x"], g["y"])))
            if len(pts) <= 2:
                hull = pts
            else:
                def chain(seq):
                    h = []
                    for p in seq:
                        while len(h) >= 2 and (
                            (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                            - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
                        ) <= 0.0:
                            h.pop()
                        h.append(p)
                    return h
                lower = chain(pts)
                upper = chain(reversed(pts))
                hull = lower[:-1] + upper[:-1]
            for x, y in hull:
                out.append((pid, x, y))
        return pd.DataFrame(out, columns=["poly_id", "x", "y"]).astype(
            {"poly_id": "int64", "x": "float64", "y": "float64"}
        )

    hull = v.groupBy("poly_id").applyInPandas(kernel, "poly_id long, x double, y double")
    ctr = hull.groupBy("poly_id").agg(
        ((F.min("x") + F.max("x")) / 2.0).alias("cx"),
        ((F.min("y") + F.max("y")) / 2.0).alias("cy"),
    )
    a = hull.join(ctr, "poly_id").withColumn(
        "ang", F.atan2(F.col("y") - F.col("cy"), F.col("x") - F.col("cx"))
    )
    start = a.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("poly_id").orderBy(F.col("y").asc(), F.col("x").desc())
        ),
    ).filter(F.col("rk") == 1).select("poly_id", F.col("ang").alias("a0"))
    two_pi = 2.0 * math.pi
    seqd = (
        a.join(start, "poly_id")
        .withColumn("delta", (F.col("a0") - F.col("ang") + F.lit(two_pi)) % F.lit(two_pi))
        .withColumn(
            "seq",
            F.row_number().over(
                Window.partitionBy("poly_id").orderBy("delta", "x", "y")
            ),
        )
    )
    return seqd.select("poly_id", "seq", "x", "y")
