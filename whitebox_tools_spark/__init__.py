"""whitebox_tools_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-answers the analyses of the reference geoprocessing toolkit (WhiteboxTools
v2.3.0, studied read-only at /root/reference) as distributed DataFrame
pipelines: point-in-polygon overlay, kNN/IDW gridding, zonal statistics,
raster<->vector conversion, deterministic tiling.

Architecture (NOT a port):
  - data model: long-form cell tables / typed geometry structs / flat point
    tables (SURVEY.md section 1), all columnar Arrow.
  - spatial joins: floor-grid / quadtree cell-cover broadcast joins + exact
    winding-number refinement as one SQL higher-order expression (JVM only).
  - everything declarative: built-in pyspark.sql.functions wherever possible,
    vectorized Arrow UDFs only for geometry kernels; no per-row Python.
"""

__version__ = "0.1.0"

from whitebox_tools_spark.session import get_spark  # noqa: F401
from whitebox_tools_spark.grid import GridSpec, CellIndex  # noqa: F401
