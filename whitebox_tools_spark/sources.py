"""Sources & sinks (class SRC) — the engine's connector surface.

The reference dispatches on file extension to ~10 single-node raster codecs
plus shapefile and LAS (whitebox-raster/src/lib.rs:146-183,
whitebox-vector/src/shapefile/mod.rs:112, whitebox-lidar/src/las.rs). A
Spark engine's native interchange formats are parquet/csv/json; the
reference's specialized formats map onto the long-form tables of this
engine (cell table / part table / point table), with the geodoc span table
as the canonical distributed container (ingest.py).

Implemented here:
  - CsvPointsToVector (data_tools/csv_points_to_vector.rs:149): CSV -> point
    DataFrame with typed x/y columns.
  - ExportTableToCsv (data_tools/export_table_to_csv.rs:129): attribute
    table -> CSV.
  - ASCII-grid raster I/O (ArcGIS ASCII format, whitebox-raster/src/
    arcgis_ascii_raster.rs): header + row-major values <-> cell table.
    Small-raster interchange only (driver-side parse; distributed rasters
    live as parquet cell tables).
  - raster cell table <-> parquet with (row, col) sort for pushdown-friendly
    layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import GridSpec


def csv_points_to_vector(
    spark: SparkSession,
    path: str,
    *,
    xfield: str = "x",
    yfield: str = "y",
    header: bool = True,
) -> DataFrame:
    """CSV -> (point_id, x, y, <other columns>). Explicit double casts; no
    schema inference scans in production paths. point_id assignment uses the
    distributed range-partition + offset pattern (distributed.with_global_seq)
    ordered by file position — no single-partition global window, so a 100-TB
    CSV directory ingests in parallel."""
    from whitebox_tools_spark.distributed import with_global_seq

    df = spark.read.csv(path, header=header, inferSchema=False)
    seq = with_global_seq(
        df.withColumn("__mid", F.monotonically_increasing_id()),
        ["__mid"],
        out_col="point_id",
    )
    return (
        seq.withColumn("x", F.col(xfield).cast("double"))
        .withColumn("y", F.col(yfield).cast("double"))
        .withColumn("point_id", F.col("point_id").cast("long"))
        .drop("__mid")
    )


def export_table_to_csv(df: DataFrame, path: str, *, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", header).csv(path)


def write_cells(cells: DataFrame, path: str, *, n_files: int | None = None) -> None:
    """Cell table -> parquet sorted by (row, col): row-range file pruning for
    later window/tile scans."""
    df = cells
    if n_files:
        df = df.repartitionByRange(n_files, "row", "col")
    df.sortWithinPartitions("row", "col").write.mode("overwrite").parquet(path)


def read_cells(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# ArcGIS ASCII grid (small-raster interchange)
# ---------------------------------------------------------------------------
def read_ascii_grid(spark: SparkSession, path: str) -> tuple[DataFrame, GridSpec]:
    """Parse an ArcGIS ASCII grid (ncols/nrows/xllcorner/yllcorner/cellsize/
    nodata_value header + row-major values, north row first) into a cell
    table + GridSpec. Driver-side parse — interchange format for small
    rasters and test fixtures."""
    import numpy as np

    header: dict[str, float] = {}
    data_rows: list[np.ndarray] = []
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if not parts:
                continue
            key = parts[0].lower()
            if key in {"ncols", "nrows", "xllcorner", "yllcorner", "cellsize", "nodata_value"}:
                header[key] = float(parts[1])
            else:
                data_rows.append(np.array(parts, dtype=np.float64))
    vals = np.concatenate(data_rows)
    rows, cols = int(header["nrows"]), int(header["ncols"])
    cellsize = header["cellsize"]
    nodata = header.get("nodata_value", -32768.0)
    grid = GridSpec(
        west=header["xllcorner"],
        north=header["yllcorner"] + rows * cellsize,
        res_x=cellsize,
        res_y=cellsize,
        rows=rows,
        cols=cols,
        nodata=nodata,
    )
    vals = vals.reshape(rows, cols)
    recs = [
        (r, c, None if vals[r, c] == nodata else float(vals[r, c]))
        for r in range(rows)
        for c in range(cols)
    ]
    return (
        spark.createDataFrame(recs, "row long, col long, value double"),
        grid,
    )


def write_ascii_grid(cells: DataFrame, grid: GridSpec, path: str) -> None:
    """Cell table -> ArcGIS ASCII grid (collects; small rasters only)."""
    import numpy as np

    arr = np.full((grid.rows, grid.cols), grid.nodata)
    for r in cells.collect():
        if r["value"] is not None:
            arr[int(r["row"]), int(r["col"])] = r["value"]
    with open(path, "w") as fh:
        fh.write(
            f"ncols {grid.cols}\nnrows {grid.rows}\n"
            f"xllcorner {grid.west}\nyllcorner {grid.north - grid.rows * grid.res_y}\n"
            f"cellsize {grid.res_x}\nnodata_value {grid.nodata}\n"
        )
        for r in range(grid.rows):
            fh.write(" ".join(repr(v) for v in arr[r]) + "\n")
