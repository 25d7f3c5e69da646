"""Span decode: geodoc table (doc_id, spans) -> typed geometry DataFrames.

Decode paths:
  - points: SQL text over built-ins (explode + split + cast) — stays in
    whole-stage codegen, no Python at all.
  - polygons: Arrow-batched pandas UDF parsing ring strings into
    array<double> part rows (small side; runs once, result broadcastable).
  - span invariant: every pipeline must preserve span-sequence equality on
    (kind, text, media_ref, order) per doc (BASELINE.json input_hint);
    `span_signature` reduces the sequence to a canonical string for cheap
    equality checks, `assert_span_invariant` compares two tables.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark import geometry as G


def decode_points(docs: DataFrame, *, include_z: bool = True) -> DataFrame:
    """point / point_z spans -> (doc_id, point_id, x, y, z). point_id is the
    dense numeric suffix of doc_id (deterministic join key). Built-ins only,
    each step one projection or filter over SQL text."""
    kinds = "'point', 'point_z'" if include_z else "'point'"
    parts = "split(s.text, ' ')"
    return (
        docs.selectExpr("doc_id", "explode(spans) AS s")
        .where(f"s.kind IN ({kinds})")
        .selectExpr(
            "doc_id",
            r"CAST(regexp_extract(doc_id, '(\\d+)', 1) AS BIGINT) AS point_id",
            f"CAST({parts}[0] AS DOUBLE) AS x",
            f"CAST({parts}[1] AS DOUBLE) AS y",
            f"CASE WHEN size({parts}) > 2 THEN CAST({parts}[2] AS DOUBLE) END AS z",
        )
    )


def decode_polygons(docs: DataFrame) -> DataFrame:
    """polygon spans -> part table (poly_id, part_idx, is_hole, xs, ys).
    Ring strings are ';'-separated closed rings 'x1 y1 x2 y2 ...'; hole-ness
    is the shapefile winding rule (CCW = hole,
    /root/reference/whitebox-vector/src/shapefile/geometry.rs:307-340),
    recomputed here with the engine's own signed-area kernel."""
    s = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "polygon")
        .select(
            F.regexp_extract("doc_id", r"(\d+)", 1).cast("long").alias("poly_id"),
            F.col("s.text").alias("rings"),
        )
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"poly_id": [], "part_idx": [], "is_hole": [], "xs": [], "ys": []}
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                for k, ring in enumerate(rings.split(";")):
                    vals = np.array(ring.split(), dtype=np.float64)
                    xs, ys = vals[0::2], vals[1::2]
                    rows["poly_id"].append(pid)
                    rows["part_idx"].append(k)
                    rows["is_hole"].append(bool(G.is_hole(xs, ys)))
                    rows["xs"].append(list(xs))
                    rows["ys"].append(list(ys))
            yield pd.DataFrame(rows)

    return s.mapInPandas(
        parse,
        schema="poly_id long, part_idx int, is_hole boolean, xs array<double>, ys array<double>",
    )


def span_signature(docs: DataFrame) -> DataFrame:
    """(doc_id, sig) — canonical string of the (kind, text, media_ref)
    sequence ordered by offset. Pure built-ins (sort_by offset + transform +
    concat), usable on both input and pipeline output to assert the per-row
    invariant."""
    ordered = F.array_sort(
        F.col("spans"), lambda a, b: F.when(a.offset < b.offset, -1).when(a.offset > b.offset, 1).otherwise(0)
    )
    sig = F.array_join(
        F.transform(
            ordered,
            lambda sp: F.concat_ws("\x01", sp.kind, sp.text, sp.media_ref),
        ),
        "\x02",
    )
    return docs.select("doc_id", sig.alias("sig"))


def assert_span_invariant(before: DataFrame, after: DataFrame) -> None:
    """Raise if any doc's span sequence changed (kind, text, media_ref,
    order) — the BASELINE.json per-row invariant. Distributed anti-join, no
    collect of payloads."""
    a = span_signature(before).alias("a")
    b = span_signature(after).alias("b")
    bad = (
        a.join(b, "doc_id", "full")
        .filter(
            F.col("a.sig").isNull()
            | F.col("b.sig").isNull()
            | (F.col("a.sig") != F.col("b.sig"))
        )
        .limit(5)
        .collect()
    )
    if bad:
        raise AssertionError(f"span invariant violated for docs: {[r['doc_id'] for r in bad]}")


def decode_attrs(docs: DataFrame) -> DataFrame:
    """attr spans ('name:type:value', FIXTURES.md) -> typed attribute rows
    (doc_id, name, type, value_str, value_num). Built-ins only."""
    s = docs.select("doc_id", F.explode("spans").alias("s")).filter(F.col("s.kind") == "attr")
    parts = F.split(F.col("s.text"), ":")
    vtype = parts.getItem(1)
    vstr = parts.getItem(2)
    return s.select(
        "doc_id",
        parts.getItem(0).alias("name"),
        vtype.alias("type"),
        vstr.alias("value_str"),
        F.when(vtype.isin("int", "real"), vstr.cast("double")).alias("value_num"),
    )


def decode_raster_cells(
    docs: DataFrame, *, nodata: float | None = None
) -> tuple[DataFrame, DataFrame]:
    """raster_meta + raster_tile spans -> (meta df, long cell table).

    raster_meta: 'west north res_x res_y rows cols nodata' (one row per doc
    carrying it). raster_tile: 'row0 col0 nrows ncols v00 v01 ...' row-major
    -> (doc_id, row, col, value) with nodata values as NULL. Pure built-ins:
    the row-major expansion is posexplode over the value array.

    nodata: sentinel to NULL out. When None, each doc's OWN raster_meta
    nodata applies (broadcast equi-join on doc_id, so heterogeneous-nodata
    raster collections decode correctly), falling back to the reference
    default -32768 (whitebox-raster/src/lib.rs:1304) for docs without a
    meta span.
    """
    meta_s = docs.select("doc_id", F.explode("spans").alias("s")).filter(
        F.col("s.kind") == "raster_meta"
    )
    mp = F.split(F.col("s.text"), " ")
    meta = meta_s.select(
        "doc_id",
        mp.getItem(0).cast("double").alias("west"),
        mp.getItem(1).cast("double").alias("north"),
        mp.getItem(2).cast("double").alias("res_x"),
        mp.getItem(3).cast("double").alias("res_y"),
        mp.getItem(4).cast("int").alias("rows"),
        mp.getItem(5).cast("int").alias("cols"),
        mp.getItem(6).cast("double").alias("nodata"),
    )

    tile_s = docs.select("doc_id", F.explode("spans").alias("s")).filter(
        F.col("s.kind") == "raster_tile"
    )
    tp = F.split(F.col("s.text"), " ")
    vals = F.slice(tp, 5, 1_000_000)
    t = tile_s.select(
        "doc_id",
        tp.getItem(0).cast("long").alias("row0"),
        tp.getItem(1).cast("long").alias("col0"),
        tp.getItem(2).cast("int").alias("nrows"),
        tp.getItem(3).cast("int").alias("ncols"),
        F.posexplode(vals).alias("pos", "v"),
    )
    if nodata is None:
        nd_col = F.coalesce(F.col("__nd"), F.lit(-32768.0))
        # plain equi-join on doc_id (no broadcast hint: per-doc meta scales
        # with the doc count, so AQE decides broadcast vs shuffle)
        per_doc = meta.groupBy("doc_id").agg(F.min("nodata").alias("__nd"))
        t = t.join(per_doc, "doc_id", "left")
    else:
        nd_col = F.lit(float(nodata))
    cells = t.select(
        "doc_id",
        (F.col("row0") + (F.col("pos") / F.col("ncols")).cast("long")).alias("row"),
        (F.col("col0") + F.col("pos") % F.col("ncols")).alias("col"),
        F.when(F.col("v").cast("double") != nd_col, F.col("v").cast("double")).alias("value"),
    )
    return meta, cells
