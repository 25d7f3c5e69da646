"""The benchmark workloads: inputs from the seed, an oracle built in set-up,
and one checked job.

Each workload exposes
    make_inputs()       generate inputs under its work dir (datagen layer)
    build_oracle()      expected outputs, computed without the engine
    prepare(spark)      session-bound state (cached decoded points)
    job(spark, tr)      one full job -> (input rows, output matches oracle)
    layer_metrics(...)  per-layer numbers from a traced run
and the engine is only ever called through its public functions.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from whitebox_tools_spark import lineage, synth
from whitebox_tools_spark.datagen import write_geodocs
from whitebox_tools_spark.grid import CellIndex, GridSpec, lidar_tile_sql
from whitebox_tools_spark.ingest import decode_points
from whitebox_tools_spark.operators.extract import extract_raster_values_at_points
from whitebox_tools_spark.operators.knn import idw_gridding, nearest_neighbour_gridding
from whitebox_tools_spark.operators.pip import points_in_polygons
from whitebox_tools_spark.operators.raster_vector import polygons_to_raster
from whitebox_tools_spark.operators.tiling import assign_tiles
from whitebox_tools_spark.operators.zonal import zonal_statistics, zonal_statistics_oracle_sql

from probes import plan_metrics

IDX = CellIndex(0.0, 0.0, 1000.0, 5)
TILE = dict(width=125.0, height=125.0, origin_x=0.0, origin_y=0.0,
            min_x=0.0, min_y=0.0, max_x=1000.0, max_y=1000.0)
REL_TOL = 1e-9


# ---------------------------------------------------------------------------
# shared oracle helpers (DuckDB over the same parquet the engine reads)
# ---------------------------------------------------------------------------


def duck(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    return con


def points_sql(geodoc_dir: str) -> str:
    """DuckDB mirror of decode_points: (point_id, x, y) of point/point_z spans."""
    return (
        "SELECT CAST(regexp_extract(doc_id, '(\\d+)', 1) AS BIGINT) AS point_id, "
        "CAST(split_part(s.text, ' ', 1) AS DOUBLE) AS x, "
        "CAST(split_part(s.text, ' ', 2) AS DOUBLE) AS y "
        f"FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('{geodoc_dir}/*.parquet')) "
        "WHERE s.kind IN ('point', 'point_z')"
    )


def points_xy(geodoc_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """x and y of the point/point_z spans, read with pyarrow (a few times
    faster than unnesting the spans in DuckDB)."""
    spans = pc.list_flatten(pq.read_table(geodoc_dir, columns=["spans"])["spans"])
    is_point = pc.is_in(pc.struct_field(spans, "kind"), value_set=pa.array(["point", "point_z"]))
    parts = pc.split_pattern(pc.filter(pc.struct_field(spans, "text"), is_point), " ")
    return tuple(pc.cast(pc.list_element(parts, i), "double").to_numpy() for i in (0, 1))


def row_digest(rows) -> int:
    """Order-insensitive hash of integer tuples (sum of 64-bit row hashes)."""
    h = 0
    for r in rows:
        b = repr(tuple(int(v) for v in r)).encode()
        h += int.from_bytes(hashlib.blake2b(b, digest_size=8).digest(), "little")
    return h % (1 << 64)


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


REFINE_COST_PER_POINT_POLYGON = 3.5 / 48  # bbox candidates x edges, the typical draw


def polygons(n: int, seed: int, x: np.ndarray, y: np.ndarray, draws: int = 32) -> list:
    """The seed's polygon set: of the first `draws` valid draws of
    synth.make_polygons from seeds derived from `seed`, the one whose refine
    cost on the workload's own points (x, y) is closest to a fixed target per
    point. The cost is the sum over polygons of points in the bbox times edge
    count, which is what the winding refine tests. The same seed always gives
    the same set, and seeds differ in geometry but not in how much PIP work a
    job does, so seed-to-seed spread measures the engine. The points are
    needed, not just bbox areas: the generator's hotspots land somewhere else
    for every seed, so an area-only estimate let the PIP work per job vary
    with the seed (perfbench/NOTES.md). make_polygons rejects a draw whose
    ring winding comes out wrong; those are skipped."""
    target = REFINE_COST_PER_POINT_POLYGON * n * len(x)
    valid, k = [], 0
    while len(valid) < draws:
        try:
            valid.append(synth.make_polygons(n, seed=seed + 100_003 * k))
        except AssertionError:
            pass
        k += 1

    def cost(polys):
        b = np.array([p.bbox() for p in polys])
        edges = np.array([sum(len(pt.xs) - 1 for pt in p.parts) for p in polys])
        inside = ((x >= b[:, :1]) & (x <= b[:, 2:3]) & (y >= b[:, 1:2]) & (y <= b[:, 3:4])).sum(axis=1)
        return int(inside @ edges)

    return min(valid, key=lambda polys: abs(cost(polys) - target))


def timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t


def job_stage_sums(stats, jobs: list[dict]) -> dict:
    """Sum stage metrics over the distinct stages of `jobs`."""
    tot = {"tasks": 0, "failed_tasks": 0, "run_ms": 0, "gc_ms": 0, "deser_ms": 0,
           "result_ser_ms": 0, "shuffle_write_bytes": 0, "shuffle_write_records": 0,
           "output_bytes": 0}
    longest = (0, None)
    for sid in sorted({s for j in jobs for s in j["stage_ids"]}):
        st = stats.stage(sid)
        if st is None or st["status"] == "SKIPPED":
            continue
        for k in tot:
            tot[k] += st[k]
        if st["run_ms"] >= longest[0]:
            longest = (st["run_ms"], sid)
    tot["longest_stage"] = longest[1]
    return tot


class Workload:
    name = ""
    scaling_twin = False  # traced run adds a local[1] twin (scaling_eff_1to4)

    def __init__(self, work: str, seed: int, size: dict):
        self.work, self.seed, self.size = work, seed, size

    def geodocs(self, n_docs: int) -> str:
        """Generated once per run (workloads of the same size share it); the
        polygon set is drawn against its points."""
        path = os.path.join(self.work, f"geodocs_{n_docs}")
        write_geodocs(path, n_docs, seed=self.seed, chunk=max(1, n_docs // 4))
        self.polys = polygons(self.size.get("polys", 24), self.seed, *points_xy(path))
        self.parts = synth.polygons_as_parts(self.polys)
        return path

    def prepare(self, spark) -> float:
        return 0.0

    def begin_trace(self):
        """Drop per-layer samples gathered before the traced jobs."""

    def layer_metrics(self, tracer, stats, job_spans, spark) -> dict:
        """Per-layer numbers from the traced jobs (`job_spans`)."""
        return {}


# ---------------------------------------------------------------------------
# geodoc_pip_tile: scan -> decode -> tile -> PIP -> (tile, poly) counts
# ---------------------------------------------------------------------------


class GeodocPipTile(Workload):
    name = "geodoc_pip_tile"
    scaling_twin = True

    def make_inputs(self):
        self.docs_dir = self.geodocs(self.size["docs"])
        # the same files listed `copies` times: Spark reads each listing, so
        # one job scans docs x copies rows without generating them all
        self.paths = [self.docs_dir] * self.size["copies"]
        self.n_rows = self.size["docs"] * self.size["copies"]

    def build_oracle(self):
        con = duck(self.work)
        pts = points_sql(self.docs_dir)
        _, _, tile = lidar_tile_sql("p.x", "p.y", **TILE)
        rows = con.execute(f"""
WITH hits AS ({synth.pip_oracle_sql(pts, self.polys)}), p AS ({pts})
SELECT {tile} AS tile, hits.poly_id, count(*) AS n FROM hits JOIN p USING (point_id)
GROUP BY 1, 2""").fetchall()
        k = self.size["copies"]
        self.expected = row_digest((t, pid, n * k) for t, pid, n in rows)
        bboxes = ", ".join(f"({p.poly_id}, {b[0]!r}, {b[1]!r}, {b[2]!r}, {b[3]!r})"
                           for p in self.polys for b in [p.bbox()])
        cand, npts = con.execute(f"""
WITH p AS ({pts}), b(poly_id, xmin, ymin, xmax, ymax) AS (VALUES {bboxes})
SELECT (SELECT count(*) FROM p JOIN b ON p.x >= b.xmin AND p.x <= b.xmax
                                     AND p.y >= b.ymin AND p.y <= b.ymax),
       (SELECT count(*) FROM p)""").fetchone()
        self.expected_candidates = cand * k
        self.points_out = npts * k
        con.close()

    def _pipeline(self, spark, tr):
        with tr.span("ingest.read_parquet"):
            docs = spark.read.parquet(*self.paths)
        with tr.span("ingest.decode_points"):
            pts = decode_points(docs).drop("z")
        with tr.span("operators.tiling.assign_tiles"):
            tiled = assign_tiles(pts, **TILE)
        with tr.span("operators.pip.points_in_polygons"):
            hits = points_in_polygons(tiled, self.parts, IDX, carry_cols=["tile"])
        return docs, pts, tiled, hits

    def job(self, spark, tr):
        *_, hits = self._pipeline(spark, tr)
        with tr.span("agg.collect"):
            out = hits.groupBy("tile", "poly_id").agg(F.count(F.lit(1)).alias("n_points"))
            rows = out.collect()
        self.last_df = out
        return self.n_rows, row_digest(rows) == self.expected

    def prefix_times(self, spark, tr, rounds: int) -> dict[str, float]:
        """Median wall of each prefix plan materialized through the noop
        sink: scan, +decode, +tile, +pip, +agg (a count would let Catalyst
        prune the x/y parse)."""
        times: dict[str, list[float]] = {}
        for _ in range(rounds):
            docs, pts, tiled, hits = self._pipeline(spark, tr)
            agg = hits.groupBy("tile", "poly_id").agg(F.count(F.lit(1)).alias("n_points"))
            # each prefix keeps only the columns the full job uses further
            # on, so Catalyst prunes the same work in every prefix (the job
            # never needs point_id, so doc_id and its regexp are pruned)
            plans = [
                ("scan", docs.select(F.col("spans.kind"), F.col("spans.text"))),
                ("decode", pts.select("x", "y")),
                ("tile", tiled.select("x", "y", "tile")),
                ("pip", hits.select("poly_id", "tile")),
                ("agg", agg),
            ]
            for name, df in plans:
                with tr.span(f"prefix.{name}"):
                    _, t = timed(df.write.format("noop").mode("overwrite").save)
                times.setdefault(name, []).append(t)
        return {k: statistics.median(v) for k, v in times.items()}

    def layer_metrics(self, tracer, stats, job_spans, spark) -> dict:
        pre = self.prefix_times(spark, tracer, self.size["prefix_rounds"])
        nodes = plan_metrics(self.last_df)
        joins = [m for n, m in nodes if n == "BroadcastHashJoin"]
        bcast = [m for n, m in nodes if n == "BroadcastExchange"]
        shuf = [m for n, m in nodes if n == "Exchange"]
        hits = sum(m.get("numOutputRows", 0) for m in joins)
        cover = [s["end"] - s["start"] for s in tracer.spans
                 if s["name"] == "operators.pip.points_in_polygons"]
        return {
            "ingest.scan_s": pre["scan"],
            "ingest.decode_s": pre["decode"] - pre["scan"],
            "ingest.rows_out": self.points_out,
            "tiling.assign_s": pre["tile"] - pre["decode"],
            "pip.cover_build_s": statistics.median(cover),
            "pip.join_refine_s": pre["pip"] - pre["tile"],
            "pip.candidates": self.expected_candidates,
            "pip.hits": hits,
            "pip.refine_yield": hits / self.expected_candidates if self.expected_candidates else 0.0,
            "pip.broadcast_bytes": sum(m.get("dataSize", 0) for m in bcast),
            "agg.groupby_s": pre["agg"] - pre["pip"],
            "agg.shuffle_write_bytes": sum(m.get("shuffleBytesWritten", 0) for m in shuf),
        }


# ---------------------------------------------------------------------------
# knn_gridding: nearest-neighbour + IDW gridding over cached points
# ---------------------------------------------------------------------------


def z_of(point_id):
    """Deterministic point value, mirrored exactly by the numpy oracle."""
    return (point_id % 997).cast("double") / 10.0


class KnnGridding(Workload):
    def make_inputs(self):
        self.docs_dir = self.geodocs(self.size["docs"])
        g = self.size["grid"]
        self.grid = GridSpec(west=0.0, north=1000.0, res_x=1000.0 / g, res_y=1000.0 / g,
                             rows=g, cols=g)
        self.index = CellIndex(0.0, 0.0, 1000.0, self.size["zoom"])

    def build_oracle(self):
        """Brute-force numpy kNN on a fixed sample of target cells."""
        con = duck(self.work)
        pid, px, py = (np.asarray(c) for c in zip(*con.execute(points_sql(self.docs_dir)).fetchall()))
        con.close()
        pz = (pid % 997).astype(np.float64) / 10.0
        self.n_points = len(pid)
        g, k = self.grid, self.size["min_points"]
        n = g.rows * g.cols
        self.sample = np.unique(np.linspace(0, n - 1, min(n, 256)).astype(np.int64))
        self.nn_expected, self.idw_expected = {}, {}
        for t in self.sample:
            row, col = divmod(int(t), g.cols)
            tx = g.west + (col + 0.5) * g.res_x
            ty = g.north - (row + 0.5) * g.res_y
            dx, dy = px - tx, py - ty
            d2 = dx * dx + dy * dy
            order = np.lexsort((pid, d2))
            self.nn_expected[(row, col)] = pz[order[0]]
            d = np.sqrt(d2)
            sel = order[:k]
            zero = d2[sel] == 0.0
            if zero.any():
                self.idw_expected[(row, col)] = pz[sel][zero].min()
            else:
                w = 1.0 / np.power(d[sel], 2.0)
                self.idw_expected[(row, col)] = float(np.sum(pz[sel] * w) / np.sum(w))

    def prepare(self, spark) -> float:
        """Decode once and cache: the gridding jobs never decode."""
        t = time.perf_counter()
        pts = decode_points(spark.read.parquet(self.docs_dir))
        self.points = pts.select("point_id", "x", "y", z_of(F.col("point_id")).alias("z")).cache()
        self.points.count()
        self.decode_s = time.perf_counter() - t
        return self.decode_s

    def job(self, spark, tr):
        with tr.span("operators.knn.nearest_neighbour_gridding"):
            nn = nearest_neighbour_gridding(self.points, self.grid, self.index).collect()
        with tr.span("operators.knn.idw_gridding"):
            idw = idw_gridding(self.points, self.grid, self.index,
                               min_points=self.size["min_points"]).collect()
        ok = len(nn) == len(idw) == self.grid.rows * self.grid.cols
        nn_v = {(r.row, r.col): r.value for r in nn}
        idw_v = {(r.row, r.col): r.value for r in idw}
        ok = ok and all(close(nn_v[c], v) for c, v in self.nn_expected.items())
        ok = ok and all(close(idw_v[c], v) for c, v in self.idw_expected.items())
        return self.n_points, ok

    def layer_metrics(self, tracer, stats, job_spans, spark) -> dict:
        attached = tracer.attached
        per = {"nn": [], "idw": [], "jobs": [], "rec": [], "bytes": []}
        for js in job_spans:
            jobs_here = []
            for s in tracer.subtree(js["id"]):
                key = {"operators.knn.nearest_neighbour_gridding": "nn",
                       "operators.knn.idw_gridding": "idw"}.get(s["name"])
                if key:
                    per[key].append(s["end"] - s["start"])
                    jobs_here += [j for c in tracer.subtree(s["id"]) for j in attached.get(c["id"], [])]
            sums = job_stage_sums(stats, jobs_here)
            per["jobs"].append(len(jobs_here) / 2.0)
            per["rec"].append(sums["shuffle_write_records"])
            per["bytes"].append(sums["shuffle_write_bytes"])
        targets = self.grid.rows * self.grid.cols
        rec = statistics.median(per["rec"])
        return {
            "ingest.decode_s": self.decode_s,
            "ingest.rows_out": self.n_points,
            "knn.nn_s": statistics.median(per["nn"]),
            "knn.idw_s": statistics.median(per["idw"]),
            "knn.jobs": statistics.median(per["jobs"]),
            "knn.candidate_rows": rec,
            # neighbours kept (1 per target for NN, min_points for IDW)
            # over rows shuffled to the rank windows and aggregates
            "knn.candidate_yield": targets * (1 + self.size["min_points"]) / rec if rec else 0.0,
            "knn.shuffle_bytes": statistics.median(per["bytes"]),
        }


# ---------------------------------------------------------------------------
# resumable_tile_write: the lineage stage of scripts/submit_job.py
# ---------------------------------------------------------------------------


class ResumableTileWrite(Workload):

    def make_inputs(self):
        self.docs_dir = self.geodocs(self.size["docs"])
        self.out_dir = os.path.join(self.work, "stage")
        self.nb = self.size["buckets"]
        rng = np.random.default_rng(self.seed)
        self.drop = sorted(int(b) for b in rng.choice(self.nb, self.nb // 2, replace=False))
        self.bucket_s: list[float] = []
        self.cover_s: list[float] = []
        self.resume_s: list[float] = []

    def _stage(self, spark):
        """Run the stage; returns (buckets run, per-bucket seconds)."""
        pts = decode_points(spark.read.parquet(self.docs_dir)).drop("z")
        nb, starts, ends = self.nb, {}, {}

        def df_for_bucket(b: int):
            # same stage body as scripts/submit_job.py
            starts[b] = time.perf_counter()
            bucket_pts = pts.filter(F.pmod(F.xxhash64("doc_id"), F.lit(nb)) == b)
            hits, t = timed(points_in_polygons, bucket_pts, self.parts, IDX)
            self.cover_s.append(t)
            tiled = assign_tiles(bucket_pts, **TILE).select(
                "point_id", "tile", IDX.cell_of_xy_expr(F.col("x"), F.col("y")).alias("cell_id")
            )
            return hits.join(tiled, "point_id")

        def progress(msg: str):
            ends[int(msg.split()[1].rstrip(":"))] = time.perf_counter()

        ran = lineage.run_stage(df_for_bucket, list(range(nb)), self.out_dir, progress=progress)
        return ran, [ends[b] - starts[b] for b in ran]

    def begin_trace(self):
        self.bucket_s, self.cover_s, self.resume_s = [], [], []

    def manifests(self) -> dict:
        return {m["bucket"]: (m["row_count"], m["content_hash"])
                for m in lineage.stage_metrics(self.out_dir)}

    def build_oracle(self):
        """The reference manifests are those of the first uninterrupted run,
        which is the set-up warm-up job; every later job must reproduce them
        both uninterrupted and after a resume."""
        self.expected = None

    def job(self, spark, tr):
        shutil.rmtree(self.out_dir, ignore_errors=True)
        with tr.span("lineage.run_stage"):
            ran, bucket_s = self._stage(spark)
        self.bucket_s += bucket_s
        if self.expected is None:
            self.expected = self.manifests()
        ok = sorted(ran) == list(range(self.nb)) and self.manifests() == self.expected
        for b in self.drop:
            os.remove(os.path.join(self.out_dir, "_manifest", f"{b}.json"))
        t = time.perf_counter()
        with tr.span("lineage.resume"):
            ran2, _ = self._stage(spark)
        self.resume_s.append(time.perf_counter() - t)
        ok = ok and sorted(ran2) == self.drop and self.manifests() == self.expected
        self.skip_frac = 1.0 - len(ran2) / self.nb
        return self.size["docs"], ok

    def layer_metrics(self, tracer, stats, job_spans, spark) -> dict:
        attached = tracer.attached
        write, verify = [], []
        for js in job_spans:
            stage = [s for s in tracer.subtree(js["id"]) if s["name"] == "lineage.run_stage"][0]
            w = v = 0.0
            for j in attached.get(stage["id"], []):
                dur = j["end"] - j["start"]
                sums = job_stage_sums(stats, [j])
                if sums["output_bytes"] > 0:
                    w += dur
                else:  # read-back listing + content-hash collect
                    v += dur
            write.append(w)
            verify.append(v)
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.out_dir) for f in fs if f.endswith(".parquet"))
        return {
            # one driver-side cover build per bucket, so per stage it is x buckets
            "pip.cover_build_s": statistics.median(self.cover_s) * self.nb,
            "tiling.write_s": statistics.median(write),
            "lineage.bucket_s_p50": statistics.median(self.bucket_s),
            "lineage.bucket_s_max": max(self.bucket_s),
            "lineage.verify_s": statistics.median(verify),
            "lineage.bytes_written": size,
            "lineage.resume_skip_frac": self.skip_frac,
            "lineage.resume_s": statistics.median(self.resume_s),
        }


# ---------------------------------------------------------------------------
# raster_vector: extract values at points, zonal stats, polygons -> raster
# ---------------------------------------------------------------------------


class RasterVector(Workload):
    def make_inputs(self):
        n = self.size["cells"]
        self.grid = GridSpec(west=0.0, north=1000.0, res_x=1000.0 / n, res_y=1000.0 / n,
                             rows=n, cols=n)
        p = self.size["p2r"]
        self.p2r = GridSpec(west=0.0, north=1000.0, res_x=1000.0 / p, res_y=1000.0 / p,
                            rows=p, cols=p)
        self.docs_dir = self.geodocs(self.size["docs"])
        row, col = (a.ravel() for a in np.meshgrid(np.arange(n), np.arange(n), indexing="ij"))
        value = ((row * 37 + col * 11 + self.seed * 7) % 1000) / 4.0
        nodata = (row * 7 + col * 3 + self.seed) % 29 == 0
        zone = (row // 20) * ((n + 19) // 20) + col // 20
        self.cells_path = os.path.join(self.work, "cells.parquet")
        pq.write_table(pa.table({
            "row": row.astype(np.int64), "col": col.astype(np.int64),
            "value": pa.array(value, mask=nodata), "zone_id": zone.astype(np.int64),
        }), self.cells_path)

    def build_oracle(self):
        con = duck(self.work)
        g, cells = self.grid, f"read_parquet('{self.cells_path}')"
        self.n_points, self.extract_expected = con.execute(f"""
WITH p AS ({points_sql(self.docs_dir)}),
e AS (SELECT p.point_id, coalesce(c.value, {g.nodata!r}) AS value1 FROM p
      LEFT JOIN {cells} c ON c.row = {g.row_sql('p.y')} AND c.col = {g.col_sql('p.x')})
SELECT count(*), sum(((point_id * 1000003 + CAST(round(value1 * 4) AS BIGINT)) % 2147483647
                      + 2147483647) % 2147483647) FROM e""").fetchone()
        zonal = con.execute(zonal_statistics_oracle_sql(
            f"SELECT zone_id, value FROM {cells}", "zone_id", "value")).fetchall()
        self.zonal_expected = {r[0]: r[1:] for r in zonal}
        q = self.p2r
        centers = (
            f"SELECT CAST(r AS BIGINT) * {q.cols} + CAST(c AS BIGINT) AS point_id, "
            f"{q.x_center_sql('c')} AS x, {q.y_center_sql('r')} AS y "
            f"FROM generate_series(0, {q.rows - 1}) t1(r), generate_series(0, {q.cols - 1}) t2(c)"
        )
        p2r = con.execute(f"""
WITH hits AS ({synth.pip_oracle_sql(centers, self.polys)})
SELECT point_id // {q.cols}, point_id % {q.cols}, CAST(max(poly_id) + 1 AS DOUBLE)
FROM hits GROUP BY point_id""").fetchall()
        self.p2r_expected = row_digest((r, c, v) for r, c, v in p2r)
        self.n_rows = self.n_points + g.rows * g.cols
        con.close()

    def prepare(self, spark) -> float:
        t = time.perf_counter()
        self.points = decode_points(spark.read.parquet(self.docs_dir)).drop("z").cache()
        self.cells = spark.read.parquet(self.cells_path).cache()
        self.points.count()
        self.cells.count()
        self.decode_s = time.perf_counter() - t
        return self.decode_s

    def job(self, spark, tr):
        with tr.span("operators.extract.extract_raster_values_at_points"):
            out = extract_raster_values_at_points(self.points, self.cells, self.grid)
            h = F.pmod(F.col("point_id") * 1000003 + F.round(F.col("value1") * 4).cast("long"),
                       F.lit(2147483647))
            n, s = out.select(F.count(F.lit(1)), F.sum(h)).first()
        with tr.span("operators.zonal.zonal_statistics"):
            zonal = zonal_statistics(self.cells).collect()
        with tr.span("operators.raster_vector.polygons_to_raster"):
            p2r = polygons_to_raster(spark, self.parts, self.p2r, IDX).collect()
        ok = (n, s) == (self.n_points, self.extract_expected)
        ok = ok and len(zonal) == len(self.zonal_expected) and all(
            close(float(a), float(b))
            for r in zonal for a, b in zip(r[1:], self.zonal_expected[r.zone_id])
        )
        ok = ok and row_digest((r.row, r.col, r.value) for r in p2r) == self.p2r_expected
        return self.n_rows, ok

    def layer_metrics(self, tracer, stats, job_spans, spark) -> dict:
        def med(name):
            return statistics.median(s["end"] - s["start"] for s in tracer.spans if s["name"] == name)

        return {
            "ingest.decode_s": self.decode_s,
            "ingest.rows_out": self.n_points,
            "extract.join_s": med("operators.extract.extract_raster_values_at_points"),
            "zonal.agg_s": med("operators.zonal.zonal_statistics"),
            "raster_vector.p2r_s": med("operators.raster_vector.polygons_to_raster"),
        }


# ---------------------------------------------------------------------------
# knn_raster_lineage: the driver-bound paths, one job each in turn
# ---------------------------------------------------------------------------


class KnnRasterLineage(Workload):
    """kNN gridding, then the raster<->vector operators (both over points
    decoded and cached in set-up), then the resumable tile-write stage. They
    share one workload only to fit the benchmark's run budget; spans and
    per-layer metrics keep them apart."""

    name = "knn_raster_lineage"

    def __init__(self, work: str, seed: int, size: dict):
        self.members = (KnnGridding(work, seed, size["knn"]),
                        RasterVector(work, seed, size["raster_vector"]),
                        ResumableTileWrite(work, seed, size["tile_write"]))

    def make_inputs(self):
        for m in self.members:
            m.make_inputs()

    def build_oracle(self):
        for m in self.members:
            m.build_oracle()

    def prepare(self, spark) -> float:
        return sum(m.prepare(spark) for m in self.members)

    def begin_trace(self):
        for m in self.members:
            m.begin_trace()

    def job(self, spark, tr):
        done = [m.job(spark, tr) for m in self.members]
        return sum(rows for rows, _ in done), all(ok for _, ok in done)

    def layer_metrics(self, tracer, stats, job_spans, spark) -> dict:
        parts = [m.layer_metrics(tracer, stats, job_spans, spark) for m in self.members]
        out = {k: v for p in parts for k, v in p.items()}
        for k in ("ingest.decode_s", "ingest.rows_out"):
            out[k] = sum(p.get(k, 0.0) for p in parts)
        return out


WORKLOADS = {w.name: w for w in (GeodocPipTile, KnnRasterLineage)}

SIZES = {
    "full": {
        "geodoc_pip_tile": {"docs": 50_000, "copies": 8, "polys": 48, "prefix_rounds": 2},
        "knn_raster_lineage": {
            "knn": {"docs": 1_000, "grid": 40, "zoom": 5, "min_points": 6},
            "raster_vector": {"docs": 20_000, "cells": 200, "p2r": 100, "polys": 48},
            "tile_write": {"docs": 20_000, "buckets": 2, "polys": 48},
        },
    },
    "smoke": {
        "geodoc_pip_tile": {"docs": 2_000, "copies": 1, "polys": 12, "prefix_rounds": 1},
        "knn_raster_lineage": {
            "knn": {"docs": 400, "grid": 10, "zoom": 4, "min_points": 4},
            "raster_vector": {"docs": 1_000, "cells": 40, "p2r": 20, "polys": 12},
            "tile_write": {"docs": 1_000, "buckets": 2, "polys": 12},
        },
    },
}
