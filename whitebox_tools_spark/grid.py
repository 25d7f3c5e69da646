"""Grid geo-referencing + hierarchical cell index, as SQL text.

Two constructs:

``GridSpec`` — the raster grid contract of the reference engine
(RasterConfigs, /root/reference/whitebox-raster/src/lib.rs:1260-1295) with its
floor-based x<->col / y<->row mapping (lib.rs:728-749):

    col = floor((x - west) / res_x)
    row = floor((north - y) / res_y)          # row 0 = NORTH edge
    x_center(col) = west + res_x/2 + col*res_x
    y_center(row) = north - res_y/2 - row*res_y

``CellIndex`` — a quadtree-style hierarchical spatial index over a square
world, replacing H3/S2 (not available in this environment) with the same
floor-grid arithmetic the reference uses for tiling
(/root/reference/whitebox-tools-app/src/tools/lidar_analysis/lidar_tile.rs:300-325).
At zoom z the world is 2^z x 2^z cells; a cell id packs (zoom, ix, iy) into
one BIGINT with *pure arithmetic* (multiply/add — sargable for Catalyst
predicate pushdown / partition pruning when tables are laid out by cell id).

The engine-side formulas exist once, as the ``*_sql`` text. Operators run it
through selectExpr/F.expr (one py4j call per step, no UDFs, inside
whole-stage codegen) and the DuckDB oracles run the same text. Its literals
are DOUBLE (``double_sql``), so it computes in f64 as the reference does, in
both engines: a bare 0.3 is a DECIMAL in Spark SQL and DuckDB alike, and two
DECIMAL literals would meet in exact decimal arithmetic. The numpy versions
(``col_of``, ``ix_of``, ...) are the driver-side and test reference.
``CellIndex.cell_of_xy_expr`` is the one Column form, for callers that hold
Columns.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_NODATA = -32768.0  # whitebox-raster/src/lib.rs:1304


def double_sql(v: float) -> str:
    """v as a DOUBLE literal in Spark SQL and DuckDB (0.3 -> 0.3E0); inf and
    NaN, which have no literal, as CAST('inf' AS DOUBLE)."""
    r = repr(float(v))
    if not math.isfinite(float(v)):
        return f"CAST('{r}' AS DOUBLE)"
    return r if "e" in r else f"{r}E0"


def clamp_sql(i: str, hi: int) -> str:
    """Integer expression i clamped into [0, hi]. NULL stays NULL, where
    least/greatest would skip it and return an edge."""
    return f"CASE WHEN {i} < 0 THEN 0 WHEN {i} > {hi} THEN {hi} ELSE {i} END"


# ---------------------------------------------------------------------------
# GridSpec: raster grid contract
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class GridSpec:
    """Raster grid definition (subset of the reference's RasterConfigs)."""

    west: float
    north: float
    res_x: float
    res_y: float
    rows: int
    cols: int
    nodata: float = DEFAULT_NODATA

    # --- SQL text (whitebox-raster/src/lib.rs:728-749) ---
    def col_sql(self, x: str) -> str:
        return f"CAST(floor(({x} - {double_sql(self.west)}) / {double_sql(self.res_x)}) AS BIGINT)"

    def row_sql(self, y: str) -> str:
        return f"CAST(floor(({double_sql(self.north)} - ({y})) / {double_sql(self.res_y)}) AS BIGINT)"

    def x_center_sql(self, col: str) -> str:
        w, h, r = (double_sql(v) for v in (self.west, self.res_x / 2.0, self.res_x))
        return f"({w} + {h} + CAST({col} AS DOUBLE) * {r})"

    def y_center_sql(self, row: str) -> str:
        n, h, r = (double_sql(v) for v in (self.north, self.res_y / 2.0, self.res_y))
        return f"({n} - {h} - CAST({row} AS DOUBLE) * {r})"

    def in_grid_sql(self, row: str, col: str) -> str:
        """OOB indexing returns nodata in the reference (lib.rs:79-105);
        in joins OOB is simply a miss + coalesce(nodata)."""
        return f"({row} >= 0 AND {row} < {self.rows} AND {col} >= 0 AND {col} < {self.cols})"

    # --- python-side scalar versions (for numpy kernels / oracles) ---
    def col_of(self, x):
        return np.floor((x - self.west) / self.res_x).astype("int64")

    def row_of(self, y):
        return np.floor((self.north - y) / self.res_y).astype("int64")

    def x_center(self, col):
        return self.west + self.res_x / 2.0 + col * self.res_x

    def y_center(self, row):
        return self.north - self.res_y / 2.0 - row * self.res_y


# ---------------------------------------------------------------------------
# CellIndex: hierarchical quadtree cells over a square world
# ---------------------------------------------------------------------------
_IY_BITS = 26  # supports zoom <= 26
_ZOOM_SHIFT = 2 * _IY_BITS  # cell_id = zoom*2^52 + ix*2^26 + iy


@dataclass(frozen=True)
class CellIndex:
    """Quadtree cell index: world square [origin, origin+extent)^2, 2^zoom
    cells per side at a given zoom. Pure-arithmetic ids, as SQL text and
    numpy."""

    origin_x: float
    origin_y: float
    extent: float
    zoom: int

    def __post_init__(self):
        if not (0 <= self.zoom <= 26):
            raise ValueError("zoom must be in [0, 26]")

    @property
    def n(self) -> int:
        return 1 << self.zoom

    @property
    def cell_size(self) -> float:
        return self.extent / self.n

    # --- SQL text ---
    def ix_sql(self, x: str) -> str:
        return f"CAST(floor(({x} - {double_sql(self.origin_x)}) / {double_sql(self.cell_size)}) AS BIGINT)"

    def iy_sql(self, y: str) -> str:
        return f"CAST(floor(({y} - {double_sql(self.origin_y)}) / {double_sql(self.cell_size)}) AS BIGINT)"

    def cell_id_sql(self, ix: str, iy: str) -> str:
        return f"(CAST({self.zoom * (1 << _ZOOM_SHIFT)} AS BIGINT) + ({ix}) * {1 << _IY_BITS} + ({iy}))"

    def cell_of_xy_sql(self, x: str, y: str) -> str:
        """Id of the cell holding (x, y), with ix/iy clamped into [0, n-1]:
        a point on or past the world's edge (e.g. one ulp left of origin_x)
        gets the edge cell, never an out-of-world id that aliases another
        cell's (cell_id_of(3, -1) == cell_id_of(2, 2^26-1)). NULL stays
        NULL."""
        hi = self.n - 1
        return self.cell_id_sql(clamp_sql(self.ix_sql(x), hi), clamp_sql(self.iy_sql(y), hi))

    def cell_of_xy_expr(self, x: Column, y: Column) -> Column:
        """cell_of_xy_sql as a Column, for callers that hold Columns (SQL
        text cannot take a Column operand). tests/test_grid.py pins the two
        to each other and to numpy."""
        hi = self.n - 1

        def clamped(v: Column, origin: float) -> Column:
            i = F.floor((v - F.lit(origin)) / F.lit(self.cell_size)).cast("long")
            return F.when(i < 0, F.lit(0).cast("long")).when(i > hi, F.lit(hi).cast("long")).otherwise(i)

        ix, iy = clamped(x, self.origin_x), clamped(y, self.origin_y)
        return F.lit(self.zoom * (1 << _ZOOM_SHIFT)).cast("long") + ix * F.lit(1 << _IY_BITS).cast("long") + iy

    # --- python-side (numpy) ---
    def ix_of(self, x):
        return np.floor((np.asarray(x) - self.origin_x) / self.cell_size).astype("int64")

    def iy_of(self, y):
        return np.floor((np.asarray(y) - self.origin_y) / self.cell_size).astype("int64")

    def cell_id_of(self, ix, iy):
        return self.zoom * (1 << _ZOOM_SHIFT) + ix * (1 << _IY_BITS) + iy

    def cover_bbox(self, xmin, ymin, xmax, ymax) -> list[int]:
        """Cell ids intersecting a bbox (clamped to world) — the polygon
        cell-cover used to build the broadcast join side. A bbox cover is an
        exact superset of the polygon cover; the exact winding-number refine
        pass removes false candidates (same role as the reference's bbox
        prefilter, gis_analysis/clip.rs:315-316). The cells are those the
        *_sql text gives the bbox corners, so a point inside the bbox always
        lands in the cover."""
        hi = self.n - 1
        ix0, ix1 = np.clip(self.ix_of([xmin, xmax]), 0, hi).tolist()
        iy0, iy1 = np.clip(self.iy_of([ymin, ymax]), 0, hi).tolist()
        return [
            self.cell_id_of(ix, iy)
            for ix in range(ix0, ix1 + 1)
            for iy in range(iy0, iy1 + 1)
        ]


# ---------------------------------------------------------------------------
# LidarTile-style flat tiling (lidar_analysis/lidar_tile.rs:300-325)
# ---------------------------------------------------------------------------
def lidar_tile_sql(
    x: str,
    y: str,
    *,
    width: float,
    height: float,
    origin_x: float,
    origin_y: float,
    min_x: float,
    min_y: float,
    max_x: float,
    max_y: float,
) -> tuple[str, str, str]:
    """Reference tile assignment (lidar_tile.rs:300-325), as SQL text over
    the expressions x and y:

        start_x_grid = floor((min_x - origin_x) / width)
        end_x_grid   = ceil((max_x - origin_x) / width)
        cols         = |end_x_grid - start_x_grid|   (same for rows)
        col  = floor((x - origin_x) / width - start_x_grid)
        tile = row * cols + col

    Returns (tile_col, tile_row, tile_id) expressions (BIGINT)."""
    start_x_grid = math.floor((min_x - origin_x) / width)
    end_x_grid = math.ceil((max_x - origin_x) / width)
    start_y_grid = math.floor((min_y - origin_y) / height)
    cols = abs(end_x_grid - start_x_grid)
    ox, oy, w, h = (double_sql(v) for v in (origin_x, origin_y, width, height))
    tcol = f"CAST(floor(({x} - {ox}) / {w} - {start_x_grid}) AS BIGINT)"
    trow = f"CAST(floor(({y} - {oy}) / {h} - {start_y_grid}) AS BIGINT)"
    tile = f"({trow} * {cols} + {tcol})"
    return tcol, trow, tile
