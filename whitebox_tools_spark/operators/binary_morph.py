"""Sequential binary-image morphology (image_analysis/{line_thin,
remove_spurs, thicken_line}.rs).

The reference updates these rasters IN PLACE during a scan-order sweep
(a cell's removal changes decisions for later cells in the same pass), so
the semantics are inherently sequential per pass. The Spark shape is one
Arrow kernel over the (small, structure-bounded) raster — the same
single-task contract as the geotiff writer; a tiled halo-iteration variant
is the scale path if ever needed. All three mirror the reference's masks,
pass structure, and scan orders verbatim.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DX = [1, 1, 1, 0, -1, -1, -1, 0]
DY = [-1, 0, 1, 1, 1, 0, -1, -1]

_THIN_E1 = [
    [6, 7, 0, 4, 3, 2],
    [0, 1, 2, 4, 5, 6],
    [2, 3, 4, 6, 7, 0],
    [4, 5, 6, 0, 1, 2],
]
_THIN_E2 = [
    [7, 0, 1, 3, 5],
    [1, 2, 3, 5, 7],
    [3, 4, 5, 7, 1],
    [5, 6, 7, 1, 3],
]
_THIN_V1 = [0.0, 0.0, 0.0, 1.0, 1.0, 1.0]
_THIN_V2 = [0.0, 0.0, 0.0, 1.0, 1.0]

_SPUR_ELEMENTS = [
    [0, 1, 4, 5, 6, 7],
    [0, 1, 2, 5, 6, 7],
    [0, 1, 2, 3, 6, 7],
    [0, 1, 2, 3, 4, 7],
    [0, 1, 2, 3, 4, 5],
    [1, 2, 3, 4, 5, 6],
    [2, 3, 4, 5, 6, 7],
    [0, 3, 4, 5, 6, 7],
]


def _to_grid(pdf: pd.DataFrame):
    rows = pdf["row"].to_numpy(np.int64)
    cols = pdf["col"].to_numpy(np.int64)
    vals = pdf["value"].to_numpy(np.float64)
    r0, c0 = rows.min(), cols.min()
    h = int(rows.max() - r0 + 1)
    w = int(cols.max() - c0 + 1)
    g = np.zeros((h, w))
    g[rows - r0, cols - c0] = vals
    return g, r0, c0, rows, cols


def _nbr(g, r, c, i):
    rr, cc = r + DY[i], c + DX[i]
    if 0 <= rr < g.shape[0] and 0 <= cc < g.shape[1]:
        return g[rr, cc]
    return 0.0


def thin_grid(g: np.ndarray) -> np.ndarray:
    """line_thin.rs:234-300: repeat 4 sub-passes (in-place, row-major)
    matching either mask family until a full sweep changes nothing."""
    g = g.copy()
    did = True
    while did:
        did = False
        for a in range(4):
            for r in range(g.shape[0]):
                for c in range(g.shape[1]):
                    if g[r, c] > 0.0:
                        nb = [_nbr(g, r, c, i) for i in range(8)]
                        if all(
                            nb[_THIN_E1[a][i]] == _THIN_V1[i] for i in range(6)
                        ) or all(
                            nb[_THIN_E2[a][i]] == _THIN_V2[i] for i in range(5)
                        ):
                            g[r, c] = 0.0
                            did = True
    return g


def remove_spurs_grid(g: np.ndarray, max_iterations: int = 10) -> np.ndarray:
    """remove_spurs.rs:195-260: alternating forward/reverse scan passes of
    8 endpoint masks; stop at max_iterations or a no-change sweep."""
    g = g.copy()
    for loop_num in range(max_iterations):
        did = False
        rng_r = range(g.shape[0]) if loop_num % 2 == 1 else range(g.shape[0] - 1, -1, -1)
        rng_c = list(range(g.shape[1])) if loop_num % 2 == 1 else list(range(g.shape[1] - 1, -1, -1))
        for a in range(8):
            for r in rng_r:
                for c in rng_c:
                    if g[r, c] > 0.0:
                        nb = [_nbr(g, r, c, i) for i in range(8)]
                        if all(nb[j] == 0.0 for j in _SPUR_ELEMENTS[a]):
                            g[r, c] = 0.0
                            did = True
        if not did:
            break
    return g


def thicken_grid(g: np.ndarray) -> np.ndarray:
    """thicken_line.rs:216-246: single row-major pass; a zero cell whose
    two orthogonal neighbors (n1, n3) are line cells with the diagonal
    between them (n2) empty takes n1's value (in-place, so earlier fills
    feed later decisions)."""
    n1x = [0, 1, 0, -1]
    n1y = [-1, 0, 1, 0]
    n2x = [1, 1, -1, -1]
    n2y = [-1, 1, 1, -1]
    n3x = [1, 0, -1, 0]
    n3y = [0, 1, 0, -1]
    src = g.copy()
    out = g.copy()

    def val(a, r, c):
        if 0 <= r < a.shape[0] and 0 <= c < a.shape[1]:
            return a[r, c]
        return 0.0

    for r in range(g.shape[0]):
        for c in range(g.shape[1]):
            if src[r, c] == 0.0:
                for i in range(4):
                    zn1 = val(out, r + n1y[i], c + n1x[i])
                    zn2 = val(out, r + n2y[i], c + n2x[i])
                    zn3 = val(out, r + n3y[i], c + n3x[i])
                    if zn1 > 0.0 and zn3 > 0.0 and zn2 == 0.0:
                        out[r, c] = zn1
                        break
    return out


def _apply_grid_op(cells: DataFrame, fn) -> DataFrame:
    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        g, r0, c0, rows, cols = _to_grid(pdf)
        out = fn(g)
        return pd.DataFrame(
            {"row": rows, "col": cols, "value": out[rows - r0, cols - c0]}
        )

    src = cells.filter(F.col("value").isNotNull()).withColumn("__g", F.lit(0))
    return src.groupBy("__g").applyInPandas(
        kernel, "row long, col long, value double"
    )


def line_thinning(cells: DataFrame, *, tiled: bool = True) -> DataFrame:
    if tiled:
        return _apply_grid_op_tiled(cells, thin_grid)
    return _apply_grid_op(cells, thin_grid)


def remove_spurs(
    cells: DataFrame, *, max_iterations: int = 10, tiled: bool = True
) -> DataFrame:
    fn = lambda g: remove_spurs_grid(g, max_iterations)  # noqa: E731
    if tiled:
        return _apply_grid_op_tiled(cells, fn)
    return _apply_grid_op(cells, fn)


def thicken_raster_line(cells: DataFrame, *, tiled: bool = True) -> DataFrame:
    if tiled:
        return _apply_grid_op_tiled(cells, thicken_grid, dilate=True)
    return _apply_grid_op(cells, thicken_grid)


_CORNER_ELEMENTS = [
    [1, 7, 3, 4, 5],
    [5, 7, 1, 2, 3],
    [3, 5, 0, 1, 7],
    [1, 3, 5, 6, 7],
]
_CORNER_VALS = [1.0, 1.0, 0.0, 0.0, 0.0]


def corner_detection(cells: DataFrame) -> DataFrame:
    """CornerDetection (image_analysis/corner_detection.rs:208-250):
    hit-and-miss matching of 4 corner masks over a boolean image — a pure
    parallel 8-neighbor gather (reads input, writes output; no scan-order
    dependence). -> (row, col, value 1/0)."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offs = spark.createDataFrame(
        [(i, DX[i], DY[i]) for i in range(8)], "i int, dx int, dy int"
    )
    sc = (
        src.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "i",
            F.when(F.col("value") > 0.0, 1.0).otherwise(0.0).alias("nb"),
        )
        .groupBy("row", "col")
        .agg(*[
            F.coalesce(F.max(F.when(F.col("i") == i, F.col("nb"))), F.lit(0.0)).alias(f"n{i}")
            for i in range(8)
        ])
    )
    g = src.join(sc, ["row", "col"], "left")
    match_any = None
    for el in _CORNER_ELEMENTS:
        m = None
        for idx, want in zip(el, _CORNER_VALS):
            c = F.coalesce(F.col(f"n{idx}"), F.lit(0.0)) == F.lit(want)
            m = c if m is None else (m & c)
        match_any = m if match_any is None else (match_any | m)
    return g.select(
        "row", "col",
        F.when(
            F.col("value") > 0.0,
            F.when(match_any, 1.0).otherwise(0.0),
        ).otherwise(F.lit(0.0)).alias("value"),
    )


def corner_detection_oracle_sql(source_sql: str) -> str:
    joins = "\n".join(
        f"LEFT JOIN src n{i} ON n{i}.row = c.row + {DY[i]} AND n{i}.col = c.col + {DX[i]}"
        for i in range(8)
    )
    def nb(i):
        return f"(CASE WHEN coalesce(n{i}.value, 0.0) > 0.0 THEN 1.0 ELSE 0.0 END)"

    masks = []
    for el in _CORNER_ELEMENTS:
        conds = " AND ".join(
            f"{nb(idx)} = {want!r}" for idx, want in zip(el, _CORNER_VALS)
        )
        masks.append(f"({conds})")
    any_match = " OR ".join(masks)
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL)
SELECT c.row, c.col,
       CASE WHEN c.value > 0.0
            THEN CASE WHEN {any_match} THEN 1.0 ELSE 0.0 END
            ELSE 0.0 END AS value
FROM src c
{joins}
"""


def _apply_grid_op_tiled(cells: DataFrame, fn, *, dilate: bool = False) -> DataFrame:
    """Distributed variant of _apply_grid_op with EXACT scan-order
    semantics: the sequential masks only read 8-neighborhoods, so two
    foreground structures in different 8-connected components can never
    influence each other's decisions, and the per-pass scan order within a
    component equals the global order restricted to it. Grouping by clump
    therefore reproduces the whole-raster sweep bit-for-bit (pinned in
    tests/test_morph_tiled.py). Ops that can turn background ON
    (ThickenRasterLine) group by the 1-dilated clump (structures within
    Chebyshev distance 2 share every contested background cell, and the
    dilation connects them). The driver never sees the raster; each
    component is one small Arrow task."""
    from whitebox_tools_spark.operators.raster_vector import clump

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    fg = src.filter(F.col("value") != 0.0)
    mask = fg.select("row", "col", F.lit(1.0).alias("value"))
    if dilate:
        spark = cells.sparkSession
        offs = spark.createDataFrame(
            [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)], "dy int, dx int"
        )
        mask = (
            mask.crossJoin(F.broadcast(offs))
            .select(
                (F.col("row") + F.col("dy")).alias("row"),
                (F.col("col") + F.col("dx")).alias("col"),
            )
            .distinct()
            .withColumn("value", F.lit(1.0))
        )
    comp = clump(mask, diagonals=True).select("row", "col", "clump_id")
    # every cell the op may read or write lies in the component's mask
    # footprint (for non-dilating ops the component itself; for thicken the
    # dilated footprint) -> ship those cells (value 0 where background)
    region = comp.join(src, ["row", "col"], "left").select(
        "row", "col", F.coalesce("value", F.lit(0.0)).alias("value"), "clump_id"
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        g, r0, c0, rows, cols = _to_grid(pdf)
        out = fn(g)
        return pd.DataFrame(
            {"row": rows, "col": cols, "value": out[rows - r0, cols - c0]}
        )

    updated = region.groupBy("clump_id").applyInPandas(
        kernel, "row long, col long, value double"
    )
    return src.join(
        updated.select("row", "col", F.col("value").alias("__v")), ["row", "col"], "left"
    ).select("row", "col", F.coalesce("__v", F.col("value")).alias("value"))


# ---------------------------------------------------------------------------
# BoundaryShapeComplexity
# ---------------------------------------------------------------------------
_BSC_DX = [-1, -1, 0, 1, 1, 1, 0, -1]
_BSC_DY = [0, -1, -1, -1, 0, 1, 1, 1]


def _bsc_partials(vals: np.ndarray) -> list:
    """Per-VALUE partial BSC statistics for ONE union-mask connected
    component (boundary_shape_complexity.rs:397-462): thin the component's
    >0 mask, then for each skeleton end node (degree counted over SAME-value
    thinned neighbours, :415-420) walk the exterior link (last-unvisited-
    neighbour step, <3-degree gate, value gate on every step, :425-452).
    Returns rows (value, skel_cells, endnode_total, longest, second) — the
    per-bin accumulators of :403-406, restricted to this component. The
    reference accumulates these per value over the WHOLE raster; summing
    component partials (and taking the top-2 of the per-component top-2
    link lengths) reproduces that exactly, because the thinned skeleton and
    every link are confined to one connected component."""
    sk = thin_grid((vals > 0).astype(np.float64))
    h, w = sk.shape
    visited = np.zeros((h, w), dtype=np.int8)
    stats: dict = {}
    for r in range(h):
        for c in range(w):
            if sk[r, c] > 0.0:
                pid = vals[r, c]
                st = stats.setdefault(pid, [0, 0.0, 0, 0])
                n = 0
                for a in range(8):
                    rr, cc = r + _BSC_DY[a], c + _BSC_DX[a]
                    if (0 <= rr < h and 0 <= cc < w and sk[rr, cc] == 1.0
                            and vals[rr, cc] == pid):
                        n += 1
                st[0] += 1
                if n == 1:
                    st[1] += 1.0
                    rn, cn = r, c
                    link_length = 1
                    while True:
                        visited[rn, cn] = 1
                        n2 = 0
                        next_n = 8
                        for a in range(8):
                            rr, cc = rn + _BSC_DY[a], cn + _BSC_DX[a]
                            if (0 <= rr < h and 0 <= cc < w
                                    and sk[rr, cc] == 1.0
                                    and vals[rr, cc] == pid):
                                n2 += 1
                                if visited[rr, cc] == 0:
                                    next_n = a
                        if n2 < 3 and next_n < 8:
                            link_length += 1
                            rn += _BSC_DY[next_n]
                            cn += _BSC_DX[next_n]
                        else:
                            break
                    st[1] += link_length
                    if st[2] < link_length:
                        st[3] = st[2]
                        st[2] = link_length
                    elif st[3] < link_length:
                        st[3] = link_length
    return [
        (float(pid), int(s[0]), float(s[1]), int(s[2]), int(s[3]))
        for pid, s in stats.items()
    ]


def boundary_shape_complexity(cells: DataFrame) -> DataFrame:
    """BoundaryShapeComplexity (gis_analysis/boundary_shape_complexity.rs):
    per-VALUE BSC written to every >0 cell; background 0. Scale shape:
    one Arrow task per CONNECTED COMPONENT of the union (>0) mask — two
    distant polygons land in different tasks even when they share a value —
    then the reference's per-value accumulators (skeleton cells, end-node
    link-length total, top-2 link lengths, :403-406, :516-519) are combined
    JVM-side: sums for counts/totals, a two-pass max for the global top-2
    (per-value top-2 = top-2 of the union of per-component top-2s). The
    union-mask clump also preserves the reference's UNION thinning when
    different-valued polygons touch. cells: (row, col, value), 0 background."""
    from whitebox_tools_spark.operators.raster_vector import clump

    fg = cells.filter(F.col("value") > 0)
    comp = clump(
        fg.select("row", "col", F.lit(1.0).alias("value")), diagonals=True
    ).select("row", "col", "clump_id")
    region = comp.join(fg, ["row", "col"]).select(
        "row", "col", "value", "clump_id"
    )

    def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
        g, r0, c0, rows, cols = _to_grid(pdf)
        part = _bsc_partials(g)
        return pd.DataFrame(
            part,
            columns=["value", "skel_cells", "total", "longest", "second"],
        )

    part = region.groupBy("clump_id").applyInPandas(
        kern,
        "value double, skel_cells long, total double, longest long, second long",
    )
    # two-pass global top-2 per value: L = max(longest); S = L when two
    # components attain L, else max(all per-component seconds, runner-up
    # longest) — avoids any collect_list of per-component rows.
    lmax = part.groupBy("value").agg(F.max("longest").alias("L"))
    stats = (
        part.join(F.broadcast(lmax), "value")
        .groupBy("value")
        .agg(
            F.sum("skel_cells").alias("n"),
            F.sum("total").alias("tot"),
            F.first("L").alias("L"),
            F.sum(
                F.when(F.col("longest") == F.col("L"), 1).otherwise(0)
            ).alias("cntL"),
            F.max(
                F.when(F.col("longest") < F.col("L"), F.col("longest"))
            ).alias("lsub"),
            F.max("second").alias("smax"),
        )
        .withColumn(
            "S",
            F.when(F.col("cntL") >= 2, F.col("L")).otherwise(
                F.greatest(F.coalesce("lsub", F.lit(0)), F.col("smax"))
            ),
        )
        .select(
            "value",
            F.when(F.col("n") == 0, F.lit(0.0))
            .otherwise(
                100.0 * (F.col("tot") - F.col("L") - F.col("S")) / F.col("n")
            )
            .alias("bsc"),
        )
    )
    out = fg.join(F.broadcast(stats), "value").select(
        "row", "col", F.col("bsc").alias("value")
    )
    bg = cells.filter(F.col("value") == 0).select(
        "row", "col", F.lit(0.0).alias("value")
    )
    return out.unionByName(bg)
