"""Driver contract: entry / queries / oracle_sql for the PySpark-native
spatial-join + tiling engine (whitebox_tools_spark).

Every query derives its geometry deterministically from the driver's parquet
tables via integer-hash arithmetic (whitebox_tools_spark/synth.py) or from a
fixed seeded polygon set embedded into the oracle SQL as a VALUES edge list,
so the DuckDB oracle is fully independent of the engine code.

Float-valued outputs are rounded to 6 decimals on BOTH sides: aggregation
(sum) order is nondeterministic in any parallel engine, so raw doubles can
differ in final ulps between Spark and DuckDB; 6dp is far above ulp noise
and far below semantic differences.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import synth
from whitebox_tools_spark.grid import CellIndex, GridSpec, lidar_tile_sql
from whitebox_tools_spark.operators import raster_math as RM
from whitebox_tools_spark.operators import stats as ST
from whitebox_tools_spark.operators.extract import extract_raster_values_at_points
from whitebox_tools_spark.operators.knn import idw_gridding, nearest_neighbour_gridding
from whitebox_tools_spark.operators.pip import points_in_polygons
from whitebox_tools_spark.operators.raster_vector import polygons_to_raster
from whitebox_tools_spark.operators.tiling import aggregate_raster, assign_tiles, block_gridding
from whitebox_tools_spark.operators import overlay as _ovl
from whitebox_tools_spark.operators import random as _rnd
from whitebox_tools_spark.operators import hydro as _hyd
from whitebox_tools_spark.operators import streams as _str
from whitebox_tools_spark.operators import viewshed as _vsh
from whitebox_tools_spark.operators import multiscale as _ms
from whitebox_tools_spark.operators import lidar as _lidar
from whitebox_tools_spark.operators import lidar as _lid
from whitebox_tools_spark.operators import image as _img
from whitebox_tools_spark.operators import focal as _foc
from whitebox_tools_spark.operators import buffer as _buf
from whitebox_tools_spark.operators.vector_ops import join_tables, merge_vectors
from whitebox_tools_spark.operators.zonal import zonal_statistics

# ---------------------------------------------------------------------------
# shared deterministic config
# ---------------------------------------------------------------------------
IDX = CellIndex(0.0, 0.0, 1000.0, 5)          # 32x32 index cells
POLYS = synth.make_polygons()                  # fixed seeded polygon set
PARTS = synth.polygons_as_parts(POLYS)
PARTS_A = synth.polygons_as_parts(synth.make_polygons(24, seed=13))  # overlay A side
# maximal bbox-disjoint prefix of POLYS — valid clip layer for additive
# per-feature clipped area (greedy, deterministic)
def _disjoint_parts(parts_list):
    import numpy as np

    chosen, out = [], []
    for pid, parts in parts_list:
        xs = np.concatenate([p[0] for p in parts]); ys = np.concatenate([p[1] for p in parts])
        bb = (xs.min(), ys.min(), xs.max(), ys.max())
        if all(
            not (bb[0] <= c[2] and bb[2] >= c[0] and bb[1] <= c[3] and bb[3] >= c[1])
            for c in chosen
        ):
            chosen.append(bb)
            out.append((pid, parts))
    return out


PARTS_DISJOINT = _disjoint_parts(PARTS)
EXTRACT_GRID = GridSpec(west=0.0, north=1000.0, res_x=5.0, res_y=5.0, rows=200, cols=200)
NN_GRID = GridSpec(west=0.0, north=1000.0, res_x=25.0, res_y=25.0, rows=40, cols=40)
P2R_GRID = GridSpec(west=0.0, north=1000.0, res_x=20.0, res_y=20.0, rows=50, cols=50)
TILE = dict(width=125.0, height=125.0, origin_x=0.0, origin_y=0.0,
            min_x=0.0, min_y=0.0, max_x=1000.0, max_y=1000.0)
HIST = dict(vmin=900.0, vmax=2100.0, bins=20)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _cust_points(spark, sf_dir) -> DataFrame:
    x, y = synth.point_exprs(F.col("c_custkey"))
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"), x.alias("x"), y.alias("y"),
        F.col("c_acctbal").alias("z"),
    )


def _cust_points_cte(sf_dir: str) -> str:
    x, y = synth.point_sql("c_custkey")
    return (
        f"SELECT c_custkey AS point_id, {x} AS x, {y} AS y, c_acctbal AS z "
        f"FROM customer"
    )


def _supp_points(spark, sf_dir) -> DataFrame:
    x, y = synth.point_exprs(F.col("s_suppkey"))
    return _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("point_id"), x.alias("x"), y.alias("y"),
        F.col("s_acctbal").alias("z"),
    )


def _supp_points_cte() -> str:
    x, y = synth.point_sql("s_suppkey")
    return f"SELECT s_suppkey AS point_id, {x} AS px, {y} AS py, s_acctbal AS z FROM supplier"


def _part_raster(spark, sf_dir) -> DataFrame:
    """Derived raster: row = p_partkey % 200, col = floor(p_partkey/200.) % 200."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        (F.col("p_partkey") % 200).alias("row"),
        (F.floor(F.col("p_partkey") / F.lit(200.0)).cast("long") % 200).alias("col"),
        F.col("p_retailprice").alias("value"),
    )


_PART_RASTER_SQL = (
    "SELECT p_partkey % 200 AS row, "
    "CAST(floor(p_partkey / 200.0) AS BIGINT) % 200 AS col, "
    "p_retailprice AS value FROM part"
)

_PART_RASTER2_SQL = (
    "SELECT p_partkey % 200 AS row, "
    "CAST(floor(p_partkey / 200.0) AS BIGINT) % 200 AS col, "
    "CAST(p_size AS DOUBLE) AS value FROM part"
)


def _part_raster2(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        (F.col("p_partkey") % 200).alias("row"),
        (F.floor(F.col("p_partkey") / F.lit(200.0)).cast("long") % 200).alias("col"),
        F.col("p_size").cast("double").alias("value"),
    )


_PART_RASTER3_SQL = (
    "SELECT p_partkey % 200 AS row, "
    "CAST(floor(p_partkey / 200.0) AS BIGINT) % 200 AS col, "
    "CAST(p_partkey % 97 AS DOUBLE) AS value FROM part"
)


def _part_raster3(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        (F.col("p_partkey") % 200).alias("row"),
        (F.floor(F.col("p_partkey") / F.lit(200.0)).cast("long") % 200).alias("col"),
        (F.col("p_partkey") % 97).cast("double").alias("value"),
    )


def _zones(spark, sf_dir) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_partkey") % 37 + 1).alias("zone_id"), F.col("l_quantity").alias("value")
    )


_ZONES_SQL = "SELECT l_partkey % 37 + 1 AS zone_id, l_quantity AS value FROM lineitem"


def _r6(df: DataFrame, cols: list[str]) -> DataFrame:
    """Round to 6 dp and normalize IEEE signed zero (+ 0.0 turns -0.0 into
    +0.0; identity for every other float) — the driver's value hash is
    sign-of-zero sensitive, so engine and oracle must agree on +0.0."""
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6) + F.lit(0.0))
    return df


def _grid_centers_cte(g: GridSpec) -> str:
    """DuckDB CTE producing (point_id, row, col, x, y) cell centers with the
    GridSpec center formula (whitebox-raster/src/lib.rs:728-741)."""
    return (
        f"SELECT CAST(r AS BIGINT) * {g.cols} + CAST(c AS BIGINT) AS point_id, "
        f"CAST(r AS BIGINT) AS row, CAST(c AS BIGINT) AS col, "
        f"{g.x_center_sql('c')} AS x, {g.y_center_sql('r')} AS y "
        f"FROM generate_series(0, {g.rows - 1}) t1(r), generate_series(0, {g.cols - 1}) t2(c)"
    )
