"""Grid/cell-index contracts (whitebox-raster/src/lib.rs:728-749,
lidar_tile.rs:300-325)."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import CellIndex, GridSpec, double_sql


def test_gridspec_roundtrip():
    g = GridSpec(west=0.0, north=1000.0, res_x=5.0, res_y=5.0, rows=200, cols=200)
    # centers land back in their own cell
    cols = np.arange(0, 200)
    xs = g.x_center(cols)
    assert (g.col_of(xs) == cols).all()
    rows = np.arange(0, 200)
    ys = g.y_center(rows)
    assert (g.row_of(ys) == rows).all()


def test_gridspec_row0_is_north():
    g = GridSpec(west=0.0, north=100.0, res_x=10.0, res_y=10.0, rows=10, cols=10)
    assert g.row_of(np.array([99.0]))[0] == 0
    assert g.row_of(np.array([1.0]))[0] == 9


def test_cell_index_ids_unique_and_parent():
    idx = CellIndex(0.0, 0.0, 1000.0, 5)
    ids = set()
    for ix in range(idx.n):
        for iy in range(idx.n):
            ids.add(idx.cell_id_of(ix, iy))
    assert len(ids) == idx.n * idx.n


def test_cover_bbox_superset():
    idx = CellIndex(0.0, 0.0, 1000.0, 5)
    cover = idx.cover_bbox(100.0, 100.0, 150.0, 160.0)
    # 31.25-unit cells: x spans cells 3..4, y spans 3..5
    assert len(cover) == 2 * 3


# a non-dyadic grid: its literals are not exact in binary, so the text must
# compute in f64 (DOUBLE literals) to match numpy, where DECIMAL literals
# would meet in exact decimal arithmetic
_ODD_GRIDS = [
    GridSpec(west=0.3, north=0.3, res_x=0.2, res_y=0.2, rows=50, cols=50),
    GridSpec(west=-12.7, north=41.1, res_x=0.1, res_y=0.3, rows=50, cols=50),
    GridSpec(west=1e-05, north=-0.7, res_x=3.3, res_y=0.7, rows=50, cols=50),
]


def _eval_sql(spark, table: pa.Table, exprs: list[str]):
    """Evaluate SQL text over `table` in Spark and in DuckDB -> two lists of
    rows (tuples, in input order)."""
    import duckdb

    cols = ", ".join(exprs)
    in_spark = [tuple(r) for r in spark.createDataFrame(table).selectExpr(*exprs).collect()]
    con = duckdb.connect()
    con.register("t", table)
    in_duck = con.execute(f"SELECT {cols} FROM t").fetchall()
    return in_spark, in_duck


@pytest.mark.parametrize("g", _ODD_GRIDS, ids=["0.3/0.2", "neg-west", "tiny-west"])
def test_grid_sql_matches_numpy_bit_for_bit(spark, g):
    rng = np.random.default_rng(7)
    i = np.arange(g.rows, dtype=np.int64)
    # coordinates near cell edges, where a rounding difference moves a cell
    xs = g.x_center(i) + g.res_x * rng.choice([-0.5, 0.5, -0.25, 0.0], g.rows)
    ys = g.y_center(i) + g.res_y * rng.choice([-0.5, 0.5, -0.25, 0.0], g.rows)
    table = pa.table({"i": i, "x": xs, "y": ys})
    exprs = [g.col_sql("x"), g.row_sql("y"), g.x_center_sql("i"), g.y_center_sql("i")]
    expect = list(zip(g.col_of(xs).tolist(), g.row_of(ys).tolist(),
                      g.x_center(i).tolist(), g.y_center(i).tolist()))
    for got in _eval_sql(spark, table, exprs):
        assert got == expect


def test_cell_sql_matches_python(spark):
    for idx in [CellIndex(0.0, 0.0, 1000.0, 5), CellIndex(0.3, -0.7, 1000.3, 6)]:
        _check_cell_sql(spark, idx)


def _check_cell_sql(spark, idx):
    import duckdb

    ox, oy, hi = idx.origin_x, idx.origin_y, idx.n - 1
    far = ox + idx.extent
    # in-world points, then: out of the world on every side, one ulp left of
    # / below the origin, on the far edge, and NULL coordinates
    xs = [ox, ox + 999.99, ox + 31.25, ox + 500.0,
          ox - 50.0, far + 50.0, np.nextafter(ox, -np.inf), far, None, ox + 1.0]
    ys = [oy, oy + 0.01, oy + 968.75, oy + 123.456,
          far + 50.0, oy - 50.0, np.nextafter(oy, -np.inf), oy, oy + 1.0, None]
    n_in = 4
    x_in, y_in = np.array(xs[:n_in]), np.array(ys[:n_in])
    for x, y, e in zip(x_in, y_in, idx.cell_id_of(idx.ix_of(x_in), idx.iy_of(y_in))):
        got = duckdb.sql(f"SELECT {idx.cell_id_sql(idx.ix_sql(double_sql(x)), idx.iy_sql(double_sql(y)))}").fetchone()[0]
        assert got == e

    # the clamp: numpy reference, with NULL in -> NULL out
    def clamped(v, of):
        return None if v is None else int(np.clip(of(v), 0, hi))

    expect = [
        (None,) if x is None or y is None else (idx.cell_id_of(clamped(x, idx.ix_of), clamped(y, idx.iy_of)),)
        for x, y in zip(xs, ys)
    ]
    table = pa.table({"x": pa.array(xs, pa.float64()), "y": pa.array(ys, pa.float64())})
    for got in _eval_sql(spark, table, [idx.cell_of_xy_sql("x", "y")]):
        assert got == expect
    by_expr = spark.createDataFrame(table).select(idx.cell_of_xy_expr(F.col("x"), F.col("y"))).collect()
    assert [tuple(r) for r in by_expr] == expect
    # an out-of-world point takes the edge cell: never another cell's id
    assert expect[4][0] == idx.cell_id_of(0, hi) and expect[6][0] == idx.cell_id_of(0, 0)


def test_cover_bbox_holds_the_cells_the_text_gives_its_corners():
    import duckdb

    # cell_size 0.1: 1.0 // 0.1 == 9, but floor(1.0 / 0.1) == 10 is the cell
    # the engine's text gives x = 1.0
    idx = CellIndex(0.0, 0.0, 6.4, 6)
    for bbox in [(0.05, 0.05, 1.0, 1.0), (-3.0, 0.3, 0.7, 99.0), (-9.0, -9.0, 99.0, 99.0)]:
        xmin, ymin, xmax, ymax = bbox
        cover = set(idx.cover_bbox(*bbox))
        for x, y in [(xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax)]:
            cell = duckdb.sql(f"SELECT {idx.cell_of_xy_sql(double_sql(x), double_sql(y))}").fetchone()[0]
            assert cell in cover, (bbox, x, y)
        (ix0, ix1), (iy0, iy1) = (np.clip(of([lo, hi]), 0, idx.n - 1) for of, lo, hi in
                                  [(idx.ix_of, xmin, xmax), (idx.iy_of, ymin, ymax)])
        assert len(cover) == (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
