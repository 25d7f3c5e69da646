"""Benchmark harness.

Runs the headline operator queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the geodoc
spatial-join + tiling pipeline (the BASELINE.json throughput metric:
documents/sec through decode -> PIP cell-cover join -> tile assignment ->
tile counts) over a deterministically generated interleaved document table.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "geodocs": {"n_docs": N, "sec": S, "docs_per_sec": R}}

Scaling evidence (N vs 4N parallelism) is produced by
scripts/bench_scaling.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "pip_points_in_polygons",
    "extract_raster_values",
    "zonal_statistics",
    "tile_counts",
    "nn_gridding",
    "idw_gridding",
    "polygons_to_raster",
    "block_max_gridding",
    "raster_zip_ops",
]

def multiscale_radius_sweep(spark) -> dict:
    """Large-radius multiscale evidence: a dense 512x512 hash-noise DEM,
    MaxDifferenceFromMean at one scale. The offset scatter shuffles
    (2r+1)^2 rows/cell (quadratic in r: 441 at r=10 — already ~116M rows
    here); the tiled integral-image path ships each cell to <= 4 tiles and
    answers any radius in O(1)/cell, so its cost is ~flat from r=10 to
    r=40 where the scatter would be 6561x."""
    import time

    from pyspark.sql import functions as F

    from whitebox_tools_spark.operators.multiscale import max_difference_from_mean

    dem = (
        spark.range(512 * 512)
        .select(
            (F.col("id") % 512).alias("row"),
            (F.col("id") / 512).cast("long").alias("col"),
            ((F.xxhash64(F.col("id")) % 100000).cast("double") / 100.0).alias("value"),
        )
        .cache()
    )
    dem.count()
    out = {}
    for label, kw in [
        ("scatter_r10", dict(scales=(10,), tiled=False)),
        ("tiled_r10", dict(scales=(10,), tiled=True)),
        ("tiled_r40", dict(scales=(40,), tiled=True)),
        # the auto crossover (m > 12) must track min(scatter, tiled)
        ("auto_r5", dict(scales=(5,), tiled="auto")),
        ("auto_r10", dict(scales=(10,), tiled="auto")),
        ("auto_r40", dict(scales=(40,), tiled="auto")),
    ]:
        t0 = time.time()
        max_difference_from_mean(dem, **kw).count()
        out[label] = round(time.time() - t0, 3)
    dem.unpersist()
    return out


def hier_base_case_2m() -> dict:
    """Driver-side base cases of the hierarchical solvers at the
    direct_threshold scale (~2M edges, 1M-node grid): the Kruskal/DSU
    minimax connect (spill_minimax) and the CSR lexicographic Dijkstra
    (shortest_path_hier). No Spark involved — this is the one bounded
    driver-local step of each recursion."""
    import numpy as np

    from whitebox_tools_spark.operators.flow_stitch import (
        _minimax_connect,
        _sp_dijkstra_csr,
        _SpCsr,
    )

    side = 1000
    ids = np.arange(side * side, dtype=np.int64).reshape(side, side)
    a = np.concatenate([ids[:, :-1].ravel(), ids[:-1, :].ravel()])
    b = np.concatenate([ids[:, 1:].ravel(), ids[1:, :].ravel()])
    rng = np.random.default_rng(7)
    w = rng.random(len(a)) + 0.01
    t0 = time.time()
    mm = _minimax_connect(
        a, b, w, {-2: float("-inf"), 0: 0.5, 999_999: 0.25}
    )
    minimax_sec = time.time() - t0
    t0 = time.time()
    sp = _sp_dijkstra_csr(_SpCsr(a, b, w), {0: (0.0, 1), 999_999: (0.0, 2)})
    sp_sec = time.time() - t0
    return {
        "n_edges": len(a),
        "minimax_connect_sec": round(minimax_sec, 3),
        "sp_dijkstra_sec": round(sp_sec, 3),
        "nodes_settled": len(sp),
        "_mm_nodes": len(mm),
    }


def geodoc_pipeline(spark, path: str):
    """The throughput pipeline: documents -> decoded points -> PIP join ->
    tile assignment -> per-(tile, poly) counts."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from whitebox_tools_spark.ingest import decode_points
    from whitebox_tools_spark.operators.pip import points_in_polygons
    from whitebox_tools_spark.operators.tiling import assign_tiles

    docs = spark.read.parquet(path)
    pts = assign_tiles(decode_points(docs).drop("z"), **E.TILE)
    # tile rides through the PIP join: scan -> broadcast join -> refine ->
    # one aggregation shuffle; nothing else moves
    hits = points_in_polygons(pts, E.PARTS, E.IDX, carry_cols=["tile"])
    return hits.groupBy("tile", "poly_id").agg(F.count(F.lit(1)).alias("n_points"))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "1000000"))

    import __spark_entry__ as E
    from whitebox_tools_spark.datagen import write_geodocs
    from whitebox_tools_spark.session import get_spark

    repo = os.path.dirname(os.path.abspath(__file__))
    ncores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
    chunk = max(10_000, n_docs // (2 * ncores))
    geodoc_path = os.path.join(repo, ".cache", f"geodocs_bench_{n_docs}_{chunk}")
    write_geodocs(geodoc_path, n_docs, seed=42, chunk=chunk)

    spark = get_spark(app_name="wts-bench")
    # warm-up: touch every table + spin up the Python worker pool once, so
    # per-query timings measure the operators, not JVM/worker cold start
    for t in ["customer", "supplier", "part", "lineitem"]:
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    E.q_pip(spark, sf_dir).limit(1).count()

    qs = E.queries()

    timings = {}
    for name in BENCH_QUERIES:
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)

    ms_stats = multiscale_radius_sweep(spark)
    hier_stats = hier_base_case_2m()

    t0 = time.time()
    out_rows = geodoc_pipeline(spark, geodoc_path).count()
    geodoc_sec = time.time() - t0
    spark.stop()

    total = round(sum(timings.values()) + geodoc_sec, 3)
    print(
        json.dumps(
            {
                "metric": "spatial-join+tiling suite elapsed (headline ops + "
                "geodoc PIP/tile pipeline)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "multiscale_radius": ms_stats,
                "hier_base_2m": hier_stats,
                "geodocs": {
                    "n_docs": n_docs,
                    "sec": round(geodoc_sec, 3),
                    "docs_per_sec": round(n_docs / geodoc_sec, 1),
                    "out_rows": out_rows,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
