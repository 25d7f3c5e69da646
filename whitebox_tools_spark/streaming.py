"""Structured Streaming: incremental geodoc ingest + streaming spatial ops.

The reference is batch-only (SURVEY.md section 2.1: no streaming
operators); this module is the engine's forward path for continuously
arriving document tables: new parquet files under a directory are decoded,
spatially joined and tiled incrementally, with exactly-once sink semantics
via foreachBatch + the lineage layer.

Patterns:
  - incremental_pip_tiles: readStream over the geodoc directory -> decode
    points (same pure-expression decode as batch) -> PIP cell-cover
    broadcast join -> tile assignment -> streaming aggregation of per-tile
    counts (update mode, in-memory sink for tests; foreachBatch/parquet in
    production).
  - event_window_counts: watermarked tumbling-window aggregation over the
    driver's `events` table shape (ts, event_type, value) — late data
    handled by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

GEODOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def incremental_pip_tiles(
    spark: SparkSession,
    geodoc_dir: str,
    polys_parts: list,
    index,
    tile_params: dict,
):
    """Streaming DataFrame of (tile, poly_id, n_points) maintained
    incrementally over arriving geodoc parquet files."""
    from whitebox_tools_spark.ingest import decode_points
    from whitebox_tools_spark.operators.pip import points_in_polygons
    from whitebox_tools_spark.operators.tiling import assign_tiles

    docs = (
        spark.readStream.schema(GEODOC_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(geodoc_dir)
    )
    pts = assign_tiles(decode_points(docs).drop("z"), **tile_params)
    # tile rides through the PIP join (carry_cols) — a single-stream plan,
    # no stream-stream self-join
    hits = points_in_polygons(pts, polys_parts, index, carry_cols=["tile"])
    return hits.groupBy("tile", "poly_id").agg(F.count(F.lit(1)).alias("n_points"))


def run_to_memory(streaming_df, query_name: str, *, timeout_s: int = 120):
    """Drive a streaming aggregation to completion over the currently
    available files (test/bootstrap harness): complete-mode memory sink +
    processAllAvailable."""
    q = (
        streaming_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def event_window_counts(
    events: DataFrame,
    *,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked windowed aggregation over an (ts, event_type, value)
    stream: count + sum per (window, event_type). Works identically on a
    batch DataFrame (unit-testable) and a readStream source."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    df = events
    if events.isStreaming:
        df = events.withWatermark("ts", watermark)
    return df.groupBy(w.alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )


def streaming_cell_stats(points, *, cell: float = 125.0):
    """Custom STATEFUL streaming operator via applyInPandasWithState: per
    grid cell, maintain running (n, sum_z, min_z, max_z) across micro-
    batches and emit the updated row for every cell touched by a trigger.
    This is the engine's template for stateful spatial operators the
    built-in streaming aggregates can't express (e.g. evolving per-cell
    sketches); state is Spark-managed (checkpointed, partition-local), so
    the operator scales exactly like a shuffle-by-key. Works only on a
    streaming DataFrame with columns (x, y, z)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = points.select(
        F.floor(F.col("x") / F.lit(cell)).cast("long").alias("cx"),
        F.floor(F.col("y") / F.lit(cell)).cast("long").alias("cy"),
        "z",
    )

    out_schema = (
        "cx long, cy long, n long, sum_z double, min_z double, max_z double"
    )
    state_schema = "n long, sum_z double, min_z double, max_z double"

    def update(key, pdfs, state):
        n, s, mn, mx = (state.get if state.exists else (0, 0.0, None, None))
        for pdf in pdfs:
            z = pdf["z"].astype(float)
            if not len(z):
                continue
            n += int(len(z))
            s += float(z.sum())
            bmn, bmx = float(z.min()), float(z.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        state.update((n, s, mn, mx))
        yield pd.DataFrame(
            [{"cx": key[0], "cy": key[1], "n": n, "sum_z": s,
              "min_z": mn, "max_z": mx}]
        )

    return keyed.groupBy("cx", "cy").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
