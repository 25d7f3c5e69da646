"""Driver contract for the whitebox_tools_spark engine.

The engine's 445 query bodies, fixtures, and DuckDB oracle builders live
in the package (whitebox_tools_spark/queries/ — core fixtures, query-body
families, oracle builders, flagship; operators own their domain oracles,
e.g. operators/lidar.py, operators/ml.py). This module is the thin driver
surface: entry(spark), queries(), oracle_sql(), re-exported verbatim, plus
the full flat namespace for tests and tooling that address helpers by
name (underscore names included, which `import *` would drop).
"""

import whitebox_tools_spark.queries as _q

globals().update(
    {k: v for k, v in vars(_q).items() if not k.startswith("__")}
)
del _q
