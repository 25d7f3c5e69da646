"""Grid geo-referencing + hierarchical cell index, as pure column expressions.

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
one BIGINT with *pure arithmetic* (multiply/add — mirrorable 1:1 in ANSI SQL
for the DuckDB oracle, and sargable for Catalyst predicate pushdown /
partition pruning when tables are laid out by cell id).

Everything here returns Column expressions — no UDFs — so cell assignment
stays inside whole-stage codegen at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_NODATA = -32768.0  # whitebox-raster/src/lib.rs:1304


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

    # --- column expressions (whitebox-raster/src/lib.rs:743-749) ---
    def col_expr(self, x: Column) -> Column:
        return F.floor((x - F.lit(self.west)) / F.lit(self.res_x)).cast("long")

    def row_expr(self, y: Column) -> Column:
        return F.floor((F.lit(self.north) - y) / F.lit(self.res_y)).cast("long")

    # cell centers (lib.rs:728-741)
    def x_center_expr(self, col: Column) -> Column:
        return F.lit(self.west) + F.lit(self.res_x / 2.0) + col.cast("double") * F.lit(self.res_x)

    def y_center_expr(self, row: Column) -> Column:
        return F.lit(self.north) - F.lit(self.res_y / 2.0) - row.cast("double") * F.lit(self.res_y)

    def in_grid_expr(self, row: Column, col: Column) -> Column:
        """OOB indexing returns nodata in the reference (lib.rs:79-105);
        in joins OOB is simply a miss + coalesce(nodata)."""
        return (row >= 0) & (row < self.rows) & (col >= 0) & (col < self.cols)

    # --- SQL mirrors (exact same arithmetic for the DuckDB oracle) ---
    def col_sql(self, x: str) -> str:
        return f"CAST(floor(({x} - {self.west!r}) / {self.res_x!r}) AS BIGINT)"

    def row_sql(self, y: str) -> str:
        return f"CAST(floor(({self.north!r} - {y}) / {self.res_y!r}) AS BIGINT)"

    def x_center_sql(self, col: str) -> str:
        return f"({self.west!r} + {self.res_x / 2.0!r} + CAST({col} AS DOUBLE) * {self.res_x!r})"

    def y_center_sql(self, row: str) -> str:
        return f"({self.north!r} - {self.res_y / 2.0!r} - CAST({row} AS DOUBLE) * {self.res_y!r})"

    def in_grid_sql(self, row: str, col: str) -> str:
        return f"({row} >= 0 AND {row} < {self.rows} AND {col} >= 0 AND {col} < {self.cols})"

    # --- python-side scalar versions (for numpy kernels / oracles) ---
    def col_of(self, x):
        import numpy as np

        return np.floor((x - self.west) / self.res_x).astype("int64")

    def row_of(self, y):
        import numpy as np

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
    cells per side at a given zoom. Pure-arithmetic ids, as Column
    expressions, SQL text and numpy."""

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

    # --- Column expressions ---
    def ix_expr(self, x: Column) -> Column:
        return F.floor((x - F.lit(self.origin_x)) / F.lit(self.cell_size)).cast("long")

    def iy_expr(self, y: Column) -> Column:
        return F.floor((y - F.lit(self.origin_y)) / F.lit(self.cell_size)).cast("long")

    def cell_id_expr(self, ix: Column, iy: Column) -> Column:
        return (
            F.lit(self.zoom * (1 << _ZOOM_SHIFT)).cast("long")
            + ix * F.lit(1 << _IY_BITS).cast("long")
            + iy
        )

    def cell_of_xy_expr(self, x: Column, y: Column) -> Column:
        """Id of the cell holding (x, y), with ix/iy clamped into [0, n-1]:
        a point on or past the world's edge (e.g. one ulp left of origin_x)
        gets the edge cell, never an out-of-world id that aliases another
        cell's. NULL stays NULL (least/greatest would skip it)."""
        hi = self.n - 1

        def clamp(i: Column) -> Column:
            return F.when(i < 0, F.lit(0).cast("long")).when(
                i > hi, F.lit(hi).cast("long")
            ).otherwise(i)

        return self.cell_id_expr(clamp(self.ix_expr(x)), clamp(self.iy_expr(y)))

    # --- SQL mirrors ---
    def ix_sql(self, x: str) -> str:
        return f"CAST(floor(({x} - {self.origin_x!r}) / {self.cell_size!r}) AS BIGINT)"

    def iy_sql(self, y: str) -> str:
        return f"CAST(floor(({y} - {self.origin_y!r}) / {self.cell_size!r}) AS BIGINT)"

    def cell_id_sql(self, ix: str, iy: str) -> str:
        return f"(CAST({self.zoom * (1 << _ZOOM_SHIFT)} AS BIGINT) + ({ix}) * {1 << _IY_BITS} + ({iy}))"

    # --- python-side (numpy) ---
    def ix_of(self, x):
        import numpy as np

        return np.floor((np.asarray(x) - self.origin_x) / self.cell_size).astype("int64")

    def iy_of(self, y):
        import numpy as np

        return np.floor((np.asarray(y) - self.origin_y) / self.cell_size).astype("int64")

    def cell_id_of(self, ix, iy):
        return self.zoom * (1 << _ZOOM_SHIFT) + ix * (1 << _IY_BITS) + iy

    def cover_bbox(self, xmin, ymin, xmax, ymax) -> list[int]:
        """Cell ids intersecting a bbox (clamped to world) — the polygon
        cell-cover used to build the broadcast join side. A bbox cover is an
        exact superset of the polygon cover; the exact winding-number refine
        pass removes false candidates (same role as the reference's bbox
        prefilter, gis_analysis/clip.rs:315-316)."""
        n = self.n
        sz = self.cell_size
        ix0 = max(0, min(n - 1, int((xmin - self.origin_x) // sz)))
        ix1 = max(0, min(n - 1, int((xmax - self.origin_x) // sz)))
        iy0 = max(0, min(n - 1, int((ymin - self.origin_y) // sz)))
        iy1 = max(0, min(n - 1, int((ymax - self.origin_y) // sz)))
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
    import math

    start_x_grid = math.floor((min_x - origin_x) / width)
    end_x_grid = math.ceil((max_x - origin_x) / width)
    start_y_grid = math.floor((min_y - origin_y) / height)
    cols = abs(end_x_grid - start_x_grid)
    tcol = f"CAST(floor(({x} - {origin_x!r}) / {width!r} - {start_x_grid}) AS BIGINT)"
    trow = f"CAST(floor(({y} - {origin_y!r}) / {height!r} - {start_y_grid}) AS BIGINT)"
    tile = f"({trow} * {cols} + {tcol})"
    return tcol, trow, tile
