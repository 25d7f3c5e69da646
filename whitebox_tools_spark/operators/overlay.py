"""Vector-vector overlay (class OVL): Clip/Erase for polylines, and
Intersect/Difference/Union area overlay for polygon pairs.

Re-answers the reference's line/polygon overlay family:
  - Clip polyline case (gis_analysis/clip.rs:524): split each input line at
    every intersection with the clip-layer boundaries
    (whitebox-common/src/algorithms/line_ops.rs:138), keep the split pieces
    whose MIDPOINT is inside any clip feature (even-odd PIP with the
    clip.rs:317-321 part resolution), re-chain contiguous kept pieces into
    output polylines. Erase is the midpoint-outside dual
    (gis_analysis/erase.rs).
  - Intersect/Difference/Union (gis_analysis/intersect.rs, union.rs,
    difference.rs): for a candidate feature pair (A, B), the boundary of
    A ∩ B is (∂A split at ∂B, pieces with midpoint inside B) plus (∂B split
    at ∂A, pieces with midpoint inside A). Because the shoelace sum is
    additive over directed boundary pieces, the intersection AREA needs no
    ring stitching at all:  area = -1/2 * Σ cross(p0, p1) over kept pieces
    (negative because shapefile shells wind clockwise; CCW hole rings
    subtract naturally). Difference and union areas follow by
    inclusion-exclusion. Ring geometry, when needed, reuses the
    raster_vector ring stitcher over the same kept pieces.

Spark plan (big A side x broadcastable B side — the PIP shape):
  1. per-feature bbox -> quadtree cell cover as one SQL expression over
     the CellIndex text and its clamp (sequence x sequence of cell ids,
     exploded) — sargable candidates;
  2. equi-join against the broadcast cover of the B side + bbox-overlap
     filter -> candidate B ids aggregated per A feature (one shuffle);
  3. one Arrow-batched mapInPandas pass runs the numpy split/PIP kernel per
     A feature against only its candidate B features (B geometry reaches
     executors once via spark broadcast).
No cross join ever exists; cost is O(|A| + candidate pairs).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark import geometry as G
from whitebox_tools_spark.grid import CellIndex, clamp_sql, double_sql
from whitebox_tools_spark.operators.pip import polygon_cover


# ---------------------------------------------------------------------------
# candidate generation
# ---------------------------------------------------------------------------
def _cells_sql(index: CellIndex, ix0: str, ix1: str, iy0: str, iy1: str) -> str:
    """Array of the ids of cells (__ix, __iy), __ix in [ix0, ix1] and __iy in
    [iy0, iy1]; the iy bounds may depend on __ix."""
    cell = index.cell_id_sql("__ix", "__iy")
    return f"flatten(transform(sequence({ix0}, {ix1}), __ix -> transform(sequence({iy0}, {iy1}), __iy -> {cell})))"


def bbox_cover_cells_sql(index: CellIndex, xmin: str, ymin: str, xmax: str, ymax: str) -> str:
    """Array of cell ids covering a bbox, as SQL text over the bbox
    expressions (the SQL twin of CellIndex.cover_bbox)."""
    hi = index.n - 1
    ix0, ix1 = (clamp_sql(index.ix_sql(v), hi) for v in (xmin, xmax))
    iy0, iy1 = (clamp_sql(index.iy_sql(v), hi) for v in (ymin, ymax))
    return _cells_sql(index, ix0, ix1, iy0, iy1)


def segment_cover_cells_sql(index: CellIndex, x0: str, y0: str, x1: str, y1: str) -> str:
    """Array of cell ids covering a SEGMENT's traversed cells (padded one
    cell on every side for float drift), as SQL text over the endpoint
    expressions. Linear in segment length — a long diagonal covers
    O(len/cell) cells where its bbox cover is O((len/cell)^2), the ADVICE
    r04 heavy-tail blowup. Any point ON the segment is guaranteed inside the
    cover, so pairing on shared cells finds every true intersection."""
    hi = index.n - 1
    cs = double_sql(index.cell_size)
    ix0 = clamp_sql(f"{index.ix_sql(f'least({x0}, {x1})')} - 1", hi)
    ix1 = clamp_sql(f"{index.ix_sql(f'greatest({x0}, {x1})')} + 1", hi)
    dx, dy = f"({x1} - {x0})", f"({y1} - {y0})"

    def y_at(xq: str) -> str:
        # y of the segment at clamped parameter t(xq)
        return f"({y0} + greatest(0.0E0, least(1.0E0, ({xq} - {x0}) / {dx})) * {dy})"

    # the column of cells __ix spans [xa, xb)
    xa = f"({double_sql(index.origin_x)} + CAST(__ix AS DOUBLE) * {cs})"
    ya = f"CASE WHEN {dx} = 0.0E0 THEN least({y0}, {y1}) ELSE {y_at(xa)} END"
    yb = f"CASE WHEN {dx} = 0.0E0 THEN greatest({y0}, {y1}) ELSE {y_at(f'({xa} + {cs})')} END"
    iy0 = clamp_sql(f"{index.iy_sql(f'least({ya}, {yb})')} - 1", hi)
    iy1 = clamp_sql(f"{index.iy_sql(f'greatest({ya}, {yb})')} + 1", hi)
    return _cells_sql(index, ix0, ix1, iy0, iy1)


def _candidates_per_feature(
    feats: DataFrame, polys_parts, index: CellIndex, *, feat_id: str
) -> DataFrame:
    """-> (feat_id, cand_ids: array<long>) via cell-cover broadcast join;
    features with no overlapping candidate get an empty array (left join)."""
    spark = feats.sparkSession
    cover = F.broadcast(
        polygon_cover(spark, polys_parts, index).toDF(
            "cell_id", "poly_id", "pxmin", "pymin", "pxmax", "pymax"
        )
    )
    with_bbox = feats.select(
        F.col(feat_id).alias("__fid"),
        F.array_min("xs").alias("bxmin"),
        F.array_max("xs").alias("bxmax"),
        F.array_min("ys").alias("bymin"),
        F.array_max("ys").alias("bymax"),
    ).groupBy("__fid").agg(
        F.min("bxmin").alias("bxmin"),
        F.max("bxmax").alias("bxmax"),
        F.min("bymin").alias("bymin"),
        F.max("bymax").alias("bymax"),
    )
    cover_cells = bbox_cover_cells_sql(index, "bxmin", "bymin", "bxmax", "bymax")
    cand = (
        with_bbox.selectExpr("*", f"explode({cover_cells}) AS cell_id")
        .join(cover, "cell_id")
        .filter(
            (F.col("bxmin") <= F.col("pxmax"))
            & (F.col("bxmax") >= F.col("pxmin"))
            & (F.col("bymin") <= F.col("pymax"))
            & (F.col("bymax") >= F.col("pymin"))
        )
        .groupBy("__fid")
        .agg(F.collect_set("poly_id").alias("cand_ids"))
    )
    return cand.withColumnRenamed("__fid", feat_id)


def _edges_of(parts) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Stack every directed edge of a multi-part polygon."""
    e0x, e0y, e1x, e1y = [], [], [], []
    for xs, ys, _hole in parts:
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        e0x.append(xs[:-1]); e0y.append(ys[:-1]); e1x.append(xs[1:]); e1y.append(ys[1:])
    return (
        np.concatenate(e0x), np.concatenate(e0y),
        np.concatenate(e1x), np.concatenate(e1y),
    )


# ---------------------------------------------------------------------------
# Clip / Erase polyline case
# ---------------------------------------------------------------------------
def clip_lines(
    lines: DataFrame,
    polys_parts: list,
    index: CellIndex,
    *,
    line_id: str = "line_id",
    erase: bool = False,
) -> DataFrame:
    """Clip (erase=False) or Erase (erase=True), polyline case.

    lines: (line_id, xs: array<double>, ys: array<double>) open polylines.
    polys_parts: [(poly_id, [(xs, ys, is_hole), ...]), ...] clip layer
    (broadcastable). -> (line_id, part_idx, xs, ys) output polylines: pieces
    of the input lines inside (outside for erase) the UNION of the clip
    features, split exactly at boundary crossings (clip.rs:524 semantics,
    midpoint even-odd test, boundary-on counts outside).
    """
    spark = lines.sparkSession
    cand = _candidates_per_feature(lines, polys_parts, index, feat_id=line_id)
    src = lines.select(
        F.col(line_id).alias("line_id"), "xs", "ys"
    ).join(cand.withColumnRenamed(line_id, "line_id"), "line_id", "left")

    bc = spark.sparkContext.broadcast(
        {
            pid: [(np.asarray(xs), np.asarray(ys), bool(h)) for xs, ys, h in parts]
            for pid, parts in polys_parts
        }
    )
    erase_flag = bool(erase)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lookup = bc.value
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                cands = [] if row.cand_ids is None else [int(c) for c in row.cand_ids]
                xs = np.asarray(row.xs, dtype=np.float64)
                ys = np.asarray(row.ys, dtype=np.float64)
                if len(xs) < 2:
                    continue
                if not cands:
                    if erase_flag:  # fully outside the clip layer: kept whole
                        out.append((row.line_id, 0, list(xs), list(ys)))
                    continue
                cand_parts = [lookup[c] for c in cands]
                edges = [_edges_of(p) for p in cand_parts]
                # split every input segment at all candidate boundaries
                pieces = []  # (sx0, sy0, sx1, sy1, keep)
                for i in range(len(xs) - 1):
                    p0x, p0y, p1x, p1y = xs[i], ys[i], xs[i + 1], ys[i + 1]
                    ts = [
                        G.segment_split_ts(p0x, p0y, p1x, p1y, *e) for e in edges
                    ]
                    breaks = np.concatenate([[0.0], np.unique(np.concatenate(ts)), [1.0]]) \
                        if any(len(t) for t in ts) else np.array([0.0, 1.0])
                    for t0, t1 in zip(breaks[:-1], breaks[1:]):
                        tm = (t0 + t1) / 2.0
                        mx = p0x + tm * (p1x - p0x)
                        my = p0y + tm * (p1y - p0y)
                        inside = any(
                            bool(G.point_in_parts(np.array([mx]), np.array([my]), cp)[0])
                            for cp in cand_parts
                        )
                        keep = inside != erase_flag
                        sx0 = p0x + t0 * (p1x - p0x) if t0 > 0.0 else p0x
                        sy0 = p0y + t0 * (p1y - p0y) if t0 > 0.0 else p0y
                        sx1 = p0x + t1 * (p1x - p0x) if t1 < 1.0 else p1x
                        sy1 = p0y + t1 * (p1y - p0y) if t1 < 1.0 else p1y
                        pieces.append((sx0, sy0, sx1, sy1, keep))
                # chain contiguous kept pieces into output polylines
                part_idx = 0
                cur_x, cur_y = [], []
                for sx0, sy0, sx1, sy1, keep in pieces:
                    if keep:
                        if not cur_x:
                            cur_x, cur_y = [sx0], [sy0]
                        cur_x.append(sx1)
                        cur_y.append(sy1)
                    elif cur_x:
                        out.append((row.line_id, part_idx, cur_x, cur_y))
                        part_idx += 1
                        cur_x, cur_y = [], []
                if cur_x:
                    out.append((row.line_id, part_idx, cur_x, cur_y))
            yield pd.DataFrame(out, columns=["line_id", "part_idx", "xs", "ys"])

    return src.mapInPandas(
        kernel, schema="line_id long, part_idx int, xs array<double>, ys array<double>"
    )


def erase_lines(lines: DataFrame, polys_parts: list, index: CellIndex, **kw) -> DataFrame:
    return clip_lines(lines, polys_parts, index, erase=True, **kw)


# ---------------------------------------------------------------------------
# Polygon-polygon overlay areas (Intersect / Difference / Union)
# ---------------------------------------------------------------------------
def _boundary_inside_sum(src_parts, other_parts, other_edges) -> float:
    """Σ cross(p0, p1) over pieces of src's boundary (split at other's
    boundary) whose midpoint is inside `other`. The shoelace half-sum of
    these directed pieces is the src-side contribution to area(src ∩ other).
    """
    total = 0.0
    for xs, ys, _hole in src_parts:
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        for i in range(len(xs) - 1):
            p0x, p0y, p1x, p1y = xs[i], ys[i], xs[i + 1], ys[i + 1]
            ts = G.segment_split_ts(p0x, p0y, p1x, p1y, *other_edges)
            breaks = np.concatenate([[0.0], ts, [1.0]])
            t0s, t1s = breaks[:-1], breaks[1:]
            tm = (t0s + t1s) / 2.0
            mx = p0x + tm * (p1x - p0x)
            my = p0y + tm * (p1y - p0y)
            inside = G.point_in_parts(mx, my, other_parts)
            if not inside.any():
                continue
            sx0 = np.where(t0s > 0.0, p0x + t0s * (p1x - p0x), p0x)
            sy0 = np.where(t0s > 0.0, p0y + t0s * (p1y - p0y), p0y)
            sx1 = np.where(t1s < 1.0, p0x + t1s * (p1x - p0x), p1x)
            sy1 = np.where(t1s < 1.0, p0y + t1s * (p1y - p0y), p1y)
            total += float(np.sum((sx0 * sy1 - sx1 * sy0)[inside]))
    return total


def intersection_area(a_parts, b_parts) -> float:
    """Exact area of A ∩ B for simple multi-part polygons in shapefile
    winding (CW shells, CCW holes), no ring stitching required."""
    b_edges = _edges_of(b_parts)
    a_edges = _edges_of(a_parts)
    s = _boundary_inside_sum(a_parts, b_parts, b_edges) + _boundary_inside_sum(
        b_parts, a_parts, a_edges
    )
    return -0.5 * s


def polygon_overlay_areas(
    a_parts_df: DataFrame,
    b_polys_parts: list,
    index: CellIndex,
    *,
    a_id: str = "poly_id",
) -> DataFrame:
    """Candidate-paired overlay: -> (a_id, b_id, inter_area, a_area, b_area)
    for every candidate pair with inter_area > 0.

    a_parts_df: long parts table (poly_id, part_idx, is_hole, xs, ys) — the
    big side. b_polys_parts: [(poly_id, parts), ...] — broadcastable.
    Intersect/Difference/Union areas derive by inclusion-exclusion:
    diff = a_area - inter, union = a_area + b_area - inter.
    """
    spark = a_parts_df.sparkSession
    feats = a_parts_df.groupBy(F.col(a_id).alias("a_id")).agg(
        F.sort_array(
            F.collect_list(F.struct("part_idx", "is_hole", "xs", "ys"))
        ).alias("parts")
    )
    cand = _candidates_per_feature(
        a_parts_df.withColumnRenamed(a_id, "a_id"), b_polys_parts, index, feat_id="a_id"
    )
    src = feats.join(cand, "a_id")  # inner: features with no candidates yield no pairs

    bc = spark.sparkContext.broadcast(
        {
            pid: [(np.asarray(xs), np.asarray(ys), bool(h)) for xs, ys, h in parts]
            for pid, parts in b_polys_parts
        }
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lookup = bc.value
        b_edges_cache: dict = {}
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                a_parts = [
                    (np.asarray(p["xs"]), np.asarray(p["ys"]), bool(p["is_hole"]))
                    for p in sorted(row.parts, key=lambda p: p["part_idx"])
                ]
                # CW shells are negative under the CCW-positive shoelace and
                # CCW holes positive, so one signed sum nets shells - holes
                a_area = -0.5 * sum(G.signed_area2(xs, ys) for xs, ys, _ in a_parts)
                a_edges = _edges_of(a_parts)
                for b_id in sorted(int(c) for c in row.cand_ids):
                    b_parts = lookup[b_id]
                    if b_id not in b_edges_cache:
                        b_edges_cache[b_id] = _edges_of(b_parts)
                    s = _boundary_inside_sum(
                        a_parts, b_parts, b_edges_cache[b_id]
                    ) + _boundary_inside_sum(b_parts, a_parts, a_edges)
                    inter = -0.5 * s
                    if inter > 1e-9:
                        b_area = -0.5 * sum(
                            G.signed_area2(xs, ys) for xs, ys, _ in b_parts
                        )
                        out.append((row.a_id, b_id, inter, a_area, b_area))
            yield pd.DataFrame(
                out, columns=["a_id", "b_id", "inter_area", "a_area", "b_area"]
            )

    return src.mapInPandas(
        kernel,
        schema="a_id long, b_id long, inter_area double, a_area double, b_area double",
    )


def _boundary_pieces(
    src_parts, other_parts, other_edges, *, keep_inside: bool = True,
    reverse: bool = False,
):
    """Directed pieces of src's boundary split at other's boundary, kept by
    midpoint-inside (keep_inside=True) or midpoint-outside test; reverse
    flips each piece (for difference/symmetric-difference winding)."""
    out = []
    for xs, ys, _hole in src_parts:
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        for i in range(len(xs) - 1):
            p0x, p0y, p1x, p1y = xs[i], ys[i], xs[i + 1], ys[i + 1]
            ts = G.segment_split_ts(p0x, p0y, p1x, p1y, *other_edges)
            breaks = np.concatenate([[0.0], ts, [1.0]])
            t0s, t1s = breaks[:-1], breaks[1:]
            tm = (t0s + t1s) / 2.0
            mx = p0x + tm * (p1x - p0x)
            my = p0y + tm * (p1y - p0y)
            inside = G.point_in_parts(mx, my, other_parts)
            keep = inside if keep_inside else ~inside
            for k in np.nonzero(keep)[0]:
                sx0 = p0x + t0s[k] * (p1x - p0x) if t0s[k] > 0 else p0x
                sy0 = p0y + t0s[k] * (p1y - p0y) if t0s[k] > 0 else p0y
                sx1 = p0x + t1s[k] * (p1x - p0x) if t1s[k] < 1 else p1x
                sy1 = p0y + t1s[k] * (p1y - p0y) if t1s[k] < 1 else p1y
                if reverse:
                    out.append((sx1, sy1, sx0, sy0))
                else:
                    out.append((sx0, sy0, sx1, sy1))
    return out


def _pair_pieces(a_parts, b_parts, a_edges, b_edges, mode: str):
    """Boundary pieces of the pairwise overlay result for one (A, B) pair.

    intersect:            ∂A in B   + ∂B in A
    union:                ∂A out B  + ∂B out A
    difference (A - B):   ∂A out B  + reversed(∂B in A)
    symmetric_difference: (A - B) pieces + (B - A) pieces
    The shoelace additivity over directed pieces makes the stitched rings
    wind correctly (shells CW, holes CCW) in every mode."""
    if mode == "intersect":
        return (
            _boundary_pieces(a_parts, b_parts, b_edges, keep_inside=True)
            + _boundary_pieces(b_parts, a_parts, a_edges, keep_inside=True)
        )
    if mode == "union":
        return (
            _boundary_pieces(a_parts, b_parts, b_edges, keep_inside=False)
            + _boundary_pieces(b_parts, a_parts, a_edges, keep_inside=False)
        )
    if mode == "difference":
        return (
            _boundary_pieces(a_parts, b_parts, b_edges, keep_inside=False)
            + _boundary_pieces(b_parts, a_parts, a_edges, keep_inside=True, reverse=True)
        )
    if mode == "symmetric_difference":
        return (
            _boundary_pieces(a_parts, b_parts, b_edges, keep_inside=False)
            + _boundary_pieces(b_parts, a_parts, a_edges, keep_inside=True, reverse=True)
            + _boundary_pieces(b_parts, a_parts, a_edges, keep_inside=False)
            + _boundary_pieces(a_parts, b_parts, b_edges, keep_inside=True, reverse=True)
        )
    raise ValueError(f"unknown overlay mode {mode!r}")


def _stitch_float_rings(pieces, tol: float = 1e-5):
    """Assemble directed float pieces into closed rings.

    Junction endpoints match by distance < tol via a 3x3 bucket scan
    (each intersection point is computed twice — parametrized on A's edge
    and on B's edge, with t rounded to 1e-9 — so the two variants differ
    by up to ~1e-7 at world scale; a plain grid snap can also split a pair
    across a bucket boundary and break the ring). Original coordinates are
    preserved; distinct vertices in real data sit far above tol. Leftmost
    turn at multi-way junctions; open chains and degenerate rings
    dropped."""
    out_map: dict = {}
    bucket = lambda x, y: (int(np.floor(x / tol)), int(np.floor(y / tol)))  # noqa: E731

    def lookup(x, y):
        bx, by = bucket(x, y)
        out = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                out.extend(out_map.get((bx + dx, by + dy), []))
        return [
            j for j in out
            if abs(pieces[j][0] - x) < tol and abs(pieces[j][1] - y) < tol
        ]

    for i, (x0, y0, x1, y1) in enumerate(pieces):
        out_map.setdefault(bucket(x0, y0), []).append(i)
    used = [False] * len(pieces)
    rings = []
    order = sorted(range(len(pieces)), key=lambda i: pieces[i])
    for start in order:
        if used[start]:
            continue
        ring = [pieces[start][:2]]
        cur = start
        ok = False
        while True:
            used[cur] = True
            x0, y0, x1, y1 = pieces[cur]
            ring.append((x1, y1))
            if abs(x1 - ring[0][0]) < tol and abs(y1 - ring[0][1]) < tol:
                ok = len(ring) >= 4
                break
            cands = [j for j in lookup(x1, y1) if not used[j]]
            if not cands:
                break
            din = (x1 - x0, y1 - y0)

            def turn(j):
                ox = pieces[j][2] - pieces[j][0]
                oy = pieces[j][3] - pieces[j][1]
                return din[0] * oy - din[1] * ox

            cur = max(cands, key=lambda j: (turn(j), -j))
        if ok:
            xs = np.array([p[0] for p in ring])
            ys = np.array([p[1] for p in ring])
            xs[-1], ys[-1] = xs[0], ys[0]  # close exactly
            rings.append((xs, ys))
    return rings


def overlay_polygons_rings(
    a_parts_df: DataFrame,
    b_polys_parts: list,
    index: CellIndex,
    *,
    a_id: str = "poly_id",
    mode: str = "intersect",
) -> DataFrame:
    """Pairwise polygon overlay with RING output: the stitched boundary
    polygons of every candidate pair's intersect / union / difference /
    symmetric_difference (gis_analysis/intersect.rs, union.rs,
    difference.rs, symmetrical_difference.rs).
    -> (a_id, b_id, part_idx, is_hole, xs, ys) in shapefile winding
    (shells CW, holes CCW), parts ordered shells-first."""
    spark = a_parts_df.sparkSession
    feats = a_parts_df.groupBy(F.col(a_id).alias("a_id")).agg(
        F.sort_array(
            F.collect_list(F.struct("part_idx", "is_hole", "xs", "ys"))
        ).alias("parts")
    )
    cand = _candidates_per_feature(
        a_parts_df.withColumnRenamed(a_id, "a_id"), b_polys_parts, index, feat_id="a_id"
    )
    src = feats.join(cand, "a_id")
    bc = spark.sparkContext.broadcast(
        {
            pid: [(np.asarray(xs), np.asarray(ys), bool(h)) for xs, ys, h in parts]
            for pid, parts in b_polys_parts
        }
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lookup = bc.value
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a_parts = [
                    (np.asarray(p["xs"]), np.asarray(p["ys"]), bool(p["is_hole"]))
                    for p in sorted(r.parts, key=lambda p: p["part_idx"])
                ]
                a_edges = _edges_of(a_parts)
                for b_id in sorted(int(c) for c in r.cand_ids):
                    b_parts = lookup[b_id]
                    pieces = _pair_pieces(
                        a_parts, b_parts, a_edges, _edges_of(b_parts), mode
                    )
                    if not pieces:
                        continue
                    rings = _stitch_float_rings(pieces)
                    info = []
                    for xs, ys in rings:
                        # boundary orientation is inherited from the CW/CCW
                        # input rings: intersection shells arrive CW
                        is_hole = G.signed_area2(xs, ys) > 0.0
                        info.append((is_hole, xs, ys))
                    info.sort(key=lambda t: (t[0], t[1][0], t[2][0]))
                    for k, (is_hole, xs, ys) in enumerate(info):
                        rows.append(
                            (r.a_id, b_id, k, bool(is_hole),
                             [float(v) for v in xs], [float(v) for v in ys])
                        )
            yield pd.DataFrame(
                rows,
                columns=["a_id", "b_id", "part_idx", "is_hole", "xs", "ys"],
            )

    return src.mapInPandas(
        kernel,
        schema=(
            "a_id long, b_id long, part_idx int, is_hole boolean, "
            "xs array<double>, ys array<double>"
        ),
    )


def intersect_polygons_rings(
    a_parts_df: DataFrame,
    b_polys_parts: list,
    index: CellIndex,
    *,
    a_id: str = "poly_id",
) -> DataFrame:
    """Intersect (gis_analysis/intersect.rs) ring output — see
    overlay_polygons_rings."""
    return overlay_polygons_rings(
        a_parts_df, b_polys_parts, index, a_id=a_id, mode="intersect"
    )


def dissolve_rings(parts_df: DataFrame, *, group_col: str = "gid") -> DataFrame:
    """Dissolve (gis_analysis/dissolve.rs): remove shared/interior
    boundaries among each attribute group's features; output the stitched
    boundary rings of the group's union.

    Per-group Arrow kernel: pieces of each member's boundary split at every
    OTHER member's boundary, kept when the midpoint lies inside no other
    member (exact duplicate opposite shared edges cancel before stitching),
    then stitched to rings. Groups shuffle once (groupBy + applyInPandas);
    per-group cost is O(boundary x candidate pairs) with bbox pruning —
    dissolve groups are attribute classes, bounded in practice.

    parts_df: (gid, poly_id, part_idx, is_hole, xs, ys).
    -> (gid, ring_idx, is_hole, xs, ys)."""
    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gid = int(key[0])
        feats: dict = {}
        for r in pdf.itertuples(index=False):
            feats.setdefault(int(r.poly_id), []).append(
                (int(r.part_idx), bool(r.is_hole),
                 np.asarray(r.xs, np.float64), np.asarray(r.ys, np.float64))
            )
        polys = {
            pid: [(xs, ys, h) for _, h, xs, ys in sorted(ps, key=lambda t: t[0])]
            for pid, ps in feats.items()
        }
        edges = {pid: _edges_of(parts) for pid, parts in polys.items()}
        bbox = {
            pid: (
                min(float(np.min(xs)) for xs, _, _ in parts),
                min(float(np.min(ys)) for _, ys, _ in parts),
                max(float(np.max(xs)) for xs, _, _ in parts),
                max(float(np.max(ys)) for _, ys, _ in parts),
            )
            for pid, parts in polys.items()
        }
        pieces = []
        for pid, parts in sorted(polys.items()):
            others = [
                q for q in polys
                if q != pid
                and bbox[q][0] <= bbox[pid][2] and bbox[q][2] >= bbox[pid][0]
                and bbox[q][1] <= bbox[pid][3] and bbox[q][3] >= bbox[pid][1]
            ]
            if not others:
                for xs, ys, _h in parts:
                    for i in range(len(xs) - 1):
                        pieces.append((xs[i], ys[i], xs[i + 1], ys[i + 1]))
                continue
            all_edges = tuple(
                np.concatenate([edges[q][k] for q in others]) for k in range(4)
            )
            for xs, ys, _h in parts:
                xs = np.asarray(xs, np.float64)
                ys = np.asarray(ys, np.float64)
                for i in range(len(xs) - 1):
                    p0x, p0y, p1x, p1y = xs[i], ys[i], xs[i + 1], ys[i + 1]
                    ts = G.segment_split_ts(p0x, p0y, p1x, p1y, *all_edges)
                    breaks = np.concatenate([[0.0], ts, [1.0]])
                    t0s, t1s = breaks[:-1], breaks[1:]
                    tm = (t0s + t1s) / 2.0
                    mx = p0x + tm * (p1x - p0x)
                    my = p0y + tm * (p1y - p0y)
                    inside_any = np.zeros(len(tm), bool)
                    for q in others:
                        inside_any |= G.point_in_parts(mx, my, polys[q])
                    for k in np.nonzero(~inside_any)[0]:
                        sx0 = p0x + t0s[k] * (p1x - p0x) if t0s[k] > 0 else p0x
                        sy0 = p0y + t0s[k] * (p1y - p0y) if t0s[k] > 0 else p0y
                        sx1 = p0x + t1s[k] * (p1x - p0x) if t1s[k] < 1 else p1x
                        sy1 = p0y + t1s[k] * (p1y - p0y) if t1s[k] < 1 else p1y
                        pieces.append((sx0, sy0, sx1, sy1))
        # exact duplicate opposite directed edges (shared borders between
        # edge-adjacent members) cancel pairwise before stitching
        from collections import Counter

        cnt = Counter(pieces)
        kept = []
        done = set()
        for p in cnt:
            if p in done:
                continue
            rp = (p[2], p[3], p[0], p[1])
            if rp == p:
                done.add(p)
                continue  # zero-length
            c, rc = cnt[p], cnt.get(rp, 0)
            done.add(p)
            done.add(rp)
            m = min(c, rc)
            kept.extend([p] * (c - m))
            kept.extend([rp] * (rc - m))
        rings = _stitch_float_rings(kept)
        info = []
        for xs, ys in rings:
            info.append((G.signed_area2(xs, ys) > 0.0, xs, ys))
        info.sort(key=lambda t: (t[0], t[1][0], t[2][0]))
        rows = []
        for k, (is_hole, xs, ys) in enumerate(info):
            rows.append(
                (gid, k, bool(is_hole), [float(v) for v in xs], [float(v) for v in ys])
            )
        return pd.DataFrame(
            rows, columns=["gid", "ring_idx", "is_hole", "xs", "ys"]
        )

    return parts_df.groupBy(group_col).applyInPandas(
        kernel,
        schema=(
            "gid long, ring_idx int, is_hole boolean, "
            "xs array<double>, ys array<double>"
        ),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL generators (mirror the kernels expression-for-expression
# so IEEE-754 results are bit-identical before the round-6 output)
# ---------------------------------------------------------------------------
def _edges_values(polys, with_eidx: bool) -> str:
    rows = []
    for pid, parts in polys:
        for k, (xs, ys, hole) in enumerate(parts):
            for i in range(len(xs) - 1):
                pre = f"({pid},{k},{i}," if with_eidx else f"({pid},{k},"
                rows.append(
                    pre + f"{str(bool(hole)).lower()},"
                    f"{float(xs[i])!r},{float(ys[i])!r},{float(xs[i + 1])!r},{float(ys[i + 1])!r})"
                )
    return ",\n".join(rows)


def _t_expr(p: str, e: str) -> str:
    """Split parameter t of segment p by edge e (cross(e0-p0, f)/cross(d, f))
    — operand order matches geometry.segment_split_ts exactly."""
    return (
        f"((({e}.x0 - {p}.px0)*({e}.y1 - {e}.y0) - ({e}.y0 - {p}.py0)*({e}.x1 - {e}.x0))"
        f" / (({p}.px1 - {p}.px0)*({e}.y1 - {e}.y0) - ({p}.py1 - {p}.py0)*({e}.x1 - {e}.x0)))"
    )


def _u_expr(p: str, e: str) -> str:
    return (
        f"((({e}.x0 - {p}.px0)*({p}.py1 - {p}.py0) - ({e}.y0 - {p}.py0)*({p}.px1 - {p}.px0))"
        f" / (({p}.px1 - {p}.px0)*({e}.y1 - {e}.y0) - ({p}.py1 - {p}.py0)*({e}.x1 - {e}.x0)))"
    )


def _denom_expr(p: str, e: str) -> str:
    return (
        f"(({p}.px1 - {p}.px0)*({e}.y1 - {e}.y0) - ({p}.py1 - {p}.py0)*({e}.x1 - {e}.x0))"
    )


_WN_CASE = """CASE
      WHEN e.y0 <= p.my AND e.y1 > p.my
           AND ((e.x1-e.x0)*(p.my-e.y0) - (p.mx-e.x0)*(e.y1-e.y0)) > 0 THEN 1
      WHEN e.y0 > p.my AND e.y1 <= p.my
           AND ((e.x1-e.x0)*(p.my-e.y0) - (p.mx-e.x0)*(e.y1-e.y0)) < 0 THEN -1
      ELSE 0 END"""


def clip_lines_oracle_sql(segs_cte: str, polys, *, erase: bool = False) -> str:
    """Oracle for clip_lines/erase_lines.

    segs_cte must define segs(line_id, seg_idx, px0, py0, px1, py1) — the
    exploded input line segments. Returns the kept split sub-segments as
    (line_id, x0, y0, x1, y1) rounded to 6 decimals — exactly the segment
    multiset of the operator's merged output polylines.
    """
    anti = "ANTI" if erase else "SEMI"
    return f"""
WITH segs AS ({segs_cte}),
edges AS (SELECT * FROM (VALUES
{_edges_values(polys, with_eidx=False)}
) AS t(poly_id, part_idx, is_hole, x0, y0, x1, y1)),
ts AS (
  SELECT s.line_id, s.seg_idx, round({_t_expr('s', 'e')}, 9) AS t
  FROM segs s JOIN edges e
    ON {_denom_expr('s', 'e')} <> 0
   AND {_t_expr('s', 'e')} > 0 AND {_t_expr('s', 'e')} < 1
   AND {_u_expr('s', 'e')} >= 0 AND {_u_expr('s', 'e')} <= 1
),
brk AS (SELECT line_id, seg_idx, list_sort(list_distinct(list(t))) AS ts
        FROM ts GROUP BY 1, 2),
allb AS (
  SELECT s.*, list_concat(list_concat([CAST(0.0 AS DOUBLE)], coalesce(b.ts, [])),
                          [CAST(1.0 AS DOUBLE)]) AS bl
  FROM segs s LEFT JOIN brk b USING (line_id, seg_idx)
),
pieces AS (
  SELECT line_id, seg_idx, i, px0, py0, px1, py1, bl[i] AS t0, bl[i+1] AS t1,
         px0 + ((bl[i]+bl[i+1])/2.0)*(px1-px0) AS mx,
         py0 + ((bl[i]+bl[i+1])/2.0)*(py1-py0) AS my
  FROM (SELECT *, unnest(generate_series(1, len(bl) - 1)) AS i FROM allb)
),
wn AS (
  SELECT p.line_id, p.seg_idx, p.i, e.poly_id, e.part_idx,
         any_value(e.is_hole) AS is_hole, SUM({_WN_CASE}) AS wn
  FROM pieces p CROSS JOIN edges e
  GROUP BY 1, 2, 3, 4, 5
),
winner AS (
  SELECT line_id, seg_idx, i, poly_id, arg_max(is_hole, part_idx) AS hole
  FROM wn WHERE (wn % 2) <> 0 GROUP BY 1, 2, 3, 4
),
inside AS (SELECT DISTINCT line_id, seg_idx, i FROM winner WHERE NOT hole)
SELECT p.line_id,
       round(CASE WHEN p.t0 > 0 THEN p.px0 + p.t0*(p.px1-p.px0) ELSE p.px0 END, 6) AS x0,
       round(CASE WHEN p.t0 > 0 THEN p.py0 + p.t0*(p.py1-p.py0) ELSE p.py0 END, 6) AS y0,
       round(CASE WHEN p.t1 < 1 THEN p.px0 + p.t1*(p.px1-p.px0) ELSE p.px1 END, 6) AS x1,
       round(CASE WHEN p.t1 < 1 THEN p.py0 + p.t1*(p.py1-p.py0) ELSE p.py1 END, 6) AS y1
FROM pieces p {anti} JOIN inside i
  ON p.line_id = i.line_id AND p.seg_idx = i.seg_idx AND p.i = i.i
"""


def _one_side_sum_sql(p_alias: str, src: str, other: str, pid: str, oid: str) -> str:
    """CTE chain summing cross(p0, p1) over pieces of `src` edges (split at
    `other` edges, per other-feature) whose midpoint is inside that other
    feature. Produces {p_alias}_sum({pid}, {oid}, s)."""
    return f"""
{p_alias}_ts AS (
  SELECT s.{pid}, e.{oid}, s.pidx, s.eidx, round({_t_expr('s', 'e')}, 9) AS t
  FROM {src} s JOIN {other} e
    ON {_denom_expr('s', 'e')} <> 0
   AND {_t_expr('s', 'e')} > 0 AND {_t_expr('s', 'e')} < 1
   AND {_u_expr('s', 'e')} >= 0 AND {_u_expr('s', 'e')} <= 1
),
{p_alias}_brk AS (
  SELECT {pid}, {oid}, pidx, eidx, list_sort(list_distinct(list(t))) AS ts
  FROM {p_alias}_ts GROUP BY 1, 2, 3, 4
),
{p_alias}_allb AS (
  SELECT s.{pid}, o.{oid}, s.pidx, s.eidx, s.px0, s.py0, s.px1, s.py1,
         list_concat(list_concat([CAST(0.0 AS DOUBLE)], coalesce(b.ts, [])),
                     [CAST(1.0 AS DOUBLE)]) AS bl
  FROM {src} s
  CROSS JOIN (SELECT DISTINCT {oid} FROM {other}) o
  LEFT JOIN {p_alias}_brk b
    ON b.{pid} = s.{pid} AND b.{oid} = o.{oid} AND b.pidx = s.pidx AND b.eidx = s.eidx
),
{p_alias}_pieces AS (
  SELECT {pid}, {oid}, pidx, eidx, i, px0, py0, px1, py1, bl[i] AS t0, bl[i+1] AS t1,
         px0 + ((bl[i]+bl[i+1])/2.0)*(px1-px0) AS mx,
         py0 + ((bl[i]+bl[i+1])/2.0)*(py1-py0) AS my
  FROM (SELECT *, unnest(generate_series(1, len(bl) - 1)) AS i FROM {p_alias}_allb)
),
{p_alias}_wn AS (
  SELECT p.{pid}, p.{oid}, p.pidx, p.eidx, p.i, e.pidx AS part_idx,
         any_value(e.is_hole) AS is_hole, SUM({_WN_CASE}) AS wn
  FROM {p_alias}_pieces p JOIN {other} e ON e.{oid} = p.{oid}
  GROUP BY 1, 2, 3, 4, 5, 6
),
{p_alias}_inside AS (
  SELECT {pid}, {oid}, pidx, eidx, i
  FROM (
    SELECT {pid}, {oid}, pidx, eidx, i, arg_max(is_hole, part_idx) AS hole
    FROM {p_alias}_wn WHERE (wn % 2) <> 0 GROUP BY 1, 2, 3, 4, 5
  ) WHERE NOT hole
),
{p_alias}_sum AS (
  SELECT p.{pid}, p.{oid},
         SUM((CASE WHEN p.t0 > 0 THEN p.px0 + p.t0*(p.px1-p.px0) ELSE p.px0 END)
             * (CASE WHEN p.t1 < 1 THEN p.py0 + p.t1*(p.py1-p.py0) ELSE p.py1 END)
           - (CASE WHEN p.t1 < 1 THEN p.px0 + p.t1*(p.px1-p.px0) ELSE p.px1 END)
             * (CASE WHEN p.t0 > 0 THEN p.py0 + p.t0*(p.py1-p.py0) ELSE p.py0 END)) AS s
  FROM {p_alias}_pieces p
  SEMI JOIN {p_alias}_inside i
    ON p.{pid} = i.{pid} AND p.{oid} = i.{oid}
   AND p.pidx = i.pidx AND p.eidx = i.eidx AND p.i = i.i
  GROUP BY 1, 2
)"""


def _overlay_core_sql(a_polys, b_polys) -> str:
    """Full-precision pairwise overlay (a_id, b_id, inter, a_area, b_area)
    with inter > 1e-9 — the common core of the oracle wrappers below."""
    return f"""
WITH a_edges AS (SELECT poly_id AS aid, part_idx AS pidx, eidx, is_hole,
                        x0 AS px0, y0 AS py0, x1 AS px1, y1 AS py1
                 FROM (VALUES
{_edges_values(a_polys, with_eidx=True)}
) AS t(poly_id, part_idx, eidx, is_hole, x0, y0, x1, y1)),
b_edges AS (SELECT poly_id AS bid, part_idx AS pidx, eidx, is_hole,
                   x0 AS px0, y0 AS py0, x1 AS px1, y1 AS py1
            FROM (VALUES
{_edges_values(b_polys, with_eidx=True)}
) AS t(poly_id, part_idx, eidx, is_hole, x0, y0, x1, y1)),
a_for_pip AS (SELECT aid, pidx, is_hole, px0 AS x0, py0 AS y0, px1 AS x1, py1 AS y1 FROM a_edges),
b_for_pip AS (SELECT bid, pidx, is_hole, px0 AS x0, py0 AS y0, px1 AS x1, py1 AS y1 FROM b_edges),
{_one_side_sum_sql('sa', 'a_edges', 'b_for_pip', 'aid', 'bid')},
{_one_side_sum_sql('sb', 'b_edges', 'a_for_pip', 'bid', 'aid')},
areas_a AS (SELECT aid, -0.5 * SUM(px0*py1 - px1*py0) AS a_area FROM a_edges GROUP BY 1),
areas_b AS (SELECT bid, -0.5 * SUM(px0*py1 - px1*py0) AS b_area FROM b_edges GROUP BY 1),
merged AS (
  SELECT coalesce(sa.aid, sb.aid) AS aid, coalesce(sa.bid, sb.bid) AS bid,
         -0.5 * (coalesce(sa.s, 0.0) + coalesce(sb.s, 0.0)) AS inter
  FROM sa_sum sa FULL OUTER JOIN sb_sum sb ON sa.aid = sb.aid AND sa.bid = sb.bid
)
SELECT CAST(m.aid AS BIGINT) AS a_id, CAST(m.bid AS BIGINT) AS b_id,
       m.inter, a.a_area, b.b_area
FROM merged m JOIN areas_a a ON a.aid = m.aid JOIN areas_b b ON b.bid = m.bid
WHERE m.inter > 1e-9
"""


def union_rings_oracle_sql(a_polys, b_polys) -> str:
    """Oracle for q_union_rings: union area per candidate pair by
    inclusion-exclusion from the stitch-free boundary-sum core, rounded to
    whole units (the stitched-ring net shoelace matches to ~1e-7)."""
    return f"""
SELECT a_id, b_id, round(a_area + b_area - inter, 0) AS area
FROM ({_overlay_core_sql(a_polys, b_polys)}) q
"""


def symmetric_difference_rings_oracle_sql(a_polys, b_polys) -> str:
    """Oracle for q_symmetric_difference_rings: a + b - 2*inter per pair."""
    return f"""
SELECT a_id, b_id, round(a_area + b_area - 2 * inter, 0) AS area
FROM ({_overlay_core_sql(a_polys, b_polys)}) q
"""


def difference_rings_oracle_sql(a_polys, b_polys) -> str:
    """Oracle for q_difference_rings: a - inter per pair."""
    return f"""
SELECT a_id, b_id, round(a_area - inter, 0) AS area
FROM ({_overlay_core_sql(a_polys, b_polys)}) q
"""


def _dissolve_edges_values(polys_with_gid) -> str:
    rows = []
    for gid, fid, parts in polys_with_gid:
        for k, (xs, ys, hole) in enumerate(parts):
            for i in range(len(xs) - 1):
                rows.append(
                    f"({gid},{fid},{k},{i},{str(bool(hole)).lower()},"
                    f"{float(xs[i])!r},{float(ys[i])!r},"
                    f"{float(xs[i + 1])!r},{float(ys[i + 1])!r})"
                )
    return ",\n".join(rows)


def dissolve_oracle_sql(polys_with_gid) -> str:
    """Oracle for q_dissolve: per-group union AREA via the stitch-free
    n-way boundary sum — pieces of each member's boundary split at every
    same-group other member's boundary, kept when inside NO other member,
    shoelace-summed. Mirrors the kernel's split/PIP expressions exactly.
    polys_with_gid: [(gid, fid, parts)]."""
    return f"""
WITH es AS (SELECT * FROM (VALUES
{_dissolve_edges_values(polys_with_gid)}
) AS t(gid, fid, pidx, eidx, is_hole, px0, py0, px1, py1)),
ts AS (
  SELECT s.gid, s.fid, s.pidx, s.eidx, round({_t_expr('s', 'e')}, 9) AS t
  FROM es s JOIN (SELECT gid, fid, px0 AS x0, py0 AS y0, px1 AS x1, py1 AS y1 FROM es) e
    ON e.gid = s.gid AND e.fid <> s.fid
   AND {_denom_expr('s', 'e')} <> 0
   AND {_t_expr('s', 'e')} > 0 AND {_t_expr('s', 'e')} < 1
   AND {_u_expr('s', 'e')} >= 0 AND {_u_expr('s', 'e')} <= 1
),
brk AS (
  SELECT gid, fid, pidx, eidx, list_sort(list_distinct(list(t))) AS ts
  FROM ts GROUP BY 1, 2, 3, 4
),
allb AS (
  SELECT s.gid, s.fid, s.pidx, s.eidx, s.px0, s.py0, s.px1, s.py1,
         list_concat(list_concat([CAST(0.0 AS DOUBLE)], coalesce(b.ts, [])),
                     [CAST(1.0 AS DOUBLE)]) AS bl
  FROM es s LEFT JOIN brk b
    ON b.gid = s.gid AND b.fid = s.fid AND b.pidx = s.pidx AND b.eidx = s.eidx
),
pieces AS (
  SELECT gid, fid, pidx, eidx, i, px0, py0, px1, py1, bl[i] AS t0, bl[i+1] AS t1,
         px0 + ((bl[i]+bl[i+1])/2.0)*(px1-px0) AS mx,
         py0 + ((bl[i]+bl[i+1])/2.0)*(py1-py0) AS my
  FROM (SELECT *, unnest(generate_series(1, len(bl) - 1)) AS i FROM allb)
),
wn AS (
  SELECT p.gid, p.fid, p.pidx, p.eidx, p.i, e.fid AS ofid, e.pidx AS opart,
         any_value(e.is_hole) AS is_hole, SUM({_WN_CASE}) AS wn
  FROM pieces p JOIN (SELECT gid, fid, pidx, is_hole,
                             px0 AS x0, py0 AS y0, px1 AS x1, py1 AS y1 FROM es) e
    ON e.gid = p.gid AND e.fid <> p.fid
  GROUP BY 1, 2, 3, 4, 5, 6, 7
),
inside_any AS (
  SELECT DISTINCT gid, fid, pidx, eidx, i
  FROM (
    SELECT gid, fid, pidx, eidx, i, ofid, arg_max(is_hole, opart) AS hole
    FROM wn WHERE (wn % 2) <> 0 GROUP BY 1, 2, 3, 4, 5, 6
  ) WHERE NOT hole
)
SELECT p.gid, round(-0.5 * SUM(
         (CASE WHEN p.t0 > 0 THEN p.px0 + p.t0*(p.px1-p.px0) ELSE p.px0 END)
         * (CASE WHEN p.t1 < 1 THEN p.py0 + p.t1*(p.py1-p.py0) ELSE p.py1 END)
       - (CASE WHEN p.t1 < 1 THEN p.px0 + p.t1*(p.px1-p.px0) ELSE p.px1 END)
         * (CASE WHEN p.t0 > 0 THEN p.py0 + p.t0*(p.py1-p.py0) ELSE p.py0 END)
       ), 0) AS area
FROM pieces p ANTI JOIN inside_any i
  ON p.gid = i.gid AND p.fid = i.fid AND p.pidx = i.pidx
 AND p.eidx = i.eidx AND p.i = i.i
GROUP BY p.gid
"""


def overlay_oracle_sql(a_polys, b_polys) -> str:
    """Oracle for q_polygon_overlay: (a_id, b_id, inter_area, diff_area,
    union_area), round-6 applied to the full-precision values exactly as the
    Spark query does."""
    return f"""
SELECT a_id, b_id, round(inter, 6) AS inter_area,
       round(a_area - inter, 6) AS diff_area,
       round(a_area + b_area - inter, 6) AS union_area
FROM ({_overlay_core_sql(a_polys, b_polys)}) q
"""


def clip_polygons_oracle_sql(a_polys, b_polys_disjoint) -> str:
    """Oracle for q_clip_polygons: per-A clipped area against a DISJOINT
    clip layer (sum of pairwise intersection areas, then round 6)."""
    return f"""
SELECT a_id, round(SUM(inter), 6) AS clipped_area
FROM ({_overlay_core_sql(a_polys, b_polys_disjoint)}) q
GROUP BY a_id
"""
