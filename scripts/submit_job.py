"""spark-submit entry point: runs the flagship spatial-join + tiling
pipeline with per-partition lineage checkpointing (resumable).

    spark-submit --py-files dist/whitebox_tools_spark.zip \
        scripts/submit_job.py --geodocs <path> --out <dir> [--buckets 16]

Under spark-submit the session's master and resources come from
spark-submit's conf, with ANSI mode off as the engine assumes; run with
plain `python` it is the tuned local builder (session.get_spark). Kill the
job mid-run and re-submit: completed buckets are skipped via the lineage
manifests.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--geodocs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args()

    if "PYSPARK_GATEWAY_PORT" in os.environ:  # launched by spark-submit
        spark = (
            SparkSession.builder.appName("wts-submit").config("spark.sql.ansi.enabled", "false").getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        from whitebox_tools_spark.session import get_spark

        spark = get_spark(app_name="wts-submit")

    import __spark_entry__ as E
    from whitebox_tools_spark import lineage
    from whitebox_tools_spark.ingest import decode_points
    from whitebox_tools_spark.operators.pip import points_in_polygons
    from whitebox_tools_spark.operators.tiling import assign_tiles

    docs = spark.read.parquet(args.geodocs)
    pts = decode_points(docs).drop("z")
    nb = args.buckets

    def df_for_bucket(b: int):
        bucket_pts = pts.filter(F.pmod(F.xxhash64("doc_id"), F.lit(nb)) == b)
        hits = points_in_polygons(bucket_pts, E.PARTS, E.IDX)
        tiled = assign_tiles(bucket_pts, **E.TILE).select(
            "point_id", "tile", E.IDX.cell_of_xy_expr(F.col("x"), F.col("y")).alias("cell_id")
        )
        return hits.join(tiled, "point_id")

    ran = lineage.run_stage(
        df_for_bucket,
        list(range(nb)),
        args.out,
        progress=lambda m: print(f"[lineage] {m}", file=sys.stderr),
    )
    print(f"buckets run: {ran}; metrics: {len(lineage.stage_metrics(args.out))} manifests")
    result = lineage.read_stage(spark, args.out)
    print(f"total rows: {result.count()}")
    spark.stop()


if __name__ == "__main__":
    main()
