"""Grid/cell-index contracts (whitebox-raster/src/lib.rs:728-749,
lidar_tile.rs:300-325)."""

import numpy as np

from whitebox_tools_spark.grid import CellIndex, GridSpec


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


def test_cell_sql_matches_python():
    import duckdb

    idx = CellIndex(0.0, 0.0, 1000.0, 5)
    xs = np.array([0.0, 999.99, 31.25, 500.0])
    ys = np.array([0.0, 0.01, 968.75, 123.456])
    expect = idx.cell_id_of(idx.ix_of(xs), idx.iy_of(ys))
    for x, y, e in zip(xs, ys, expect):
        got = duckdb.sql(
            f"SELECT {idx.cell_id_sql(idx.ix_sql(str(x)), idx.iy_sql(str(y)))}"
        ).fetchone()[0]
        assert got == e
