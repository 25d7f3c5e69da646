"""Hydrology operators (class ITR down-payment): D8Pointer +
D8FlowAccumulation.

Reference semantics (hydro_analysis/d8_pointer.rs:252-300,
d8_flow_accum.rs:483-570):
  - directions 0..7 = NE, E, SE, S, SW, W, NW, N
    (d_x = [1,1,1,0,-1,-1,-1,0], d_y = [-1,0,1,1,1,0,-1,-1]);
  - per cell, the steepest POSITIVE downslope neighbor wins, slope =
    (z - z_n) / grid_length (diagonal length sqrt(rx^2 + ry^2)); ties break
    to the LOWEST direction index (strict '>' scan order);
  - pointer value = 2^dir (whitebox style; ESRI style rotates), 0 for
    pits/flats (no positive downslope);
  - flow accumulation starts at 1 per cell and pushes along pointers in
    topological order; a cell's value = 1 + number of upslope cells whose
    flow path passes through it.

Spark plan:
  - the 8-neighbor gather is ONE scatter-explode + hash aggregate (the
    FOC idiom), argmax by (slope, -dir) as an array_max over structs —
    pure expressions;
  - accumulation is the distributed topological peel: each superstep
    resolves every current source (in-degree-0 cell), pushes its count to
    its target, and drops its edge — a few joins per round, localCheckpoint
    truncating lineage. Rounds = longest flow-path length (the DAG depth),
    the same bound as the reference's stack sweep, but each round is a
    bulk-parallel join instead of a serial pop.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import GridSpec
from whitebox_tools_spark.distributed import loop_checkpoint

# direction index -> (dx, dy) per d8_pointer.rs:252-253
D8_DX = [1, 1, 1, 0, -1, -1, -1, 0]
D8_DY = [-1, 0, 1, 1, 1, 0, -1, -1]


def _grid_lengths(grid: GridSpec) -> list[float]:
    diag = math.sqrt(grid.res_x * grid.res_x + grid.res_y * grid.res_y)
    return [diag, grid.res_x, diag, grid.res_y, diag, grid.res_x, diag, grid.res_y]


def _neighbor_slopes(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """-> (row, col, value, s0..s7): slope toward each of the 8 neighbors
    (NULL where the neighbor is missing/nodata)."""
    spark = cells.sparkSession
    lens = _grid_lengths(grid)
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offsets = spark.createDataFrame(
        [(i, D8_DX[i], D8_DY[i]) for i in range(8)], "i int, dx int, dy int"
    )
    # neighbor cell n serves target (n.row - dy, n.col - dx) in slot i
    scattered = (
        src.crossJoin(F.broadcast(offsets))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "i",
            F.col("value").alias("zn"),
        )
        .groupBy("row", "col")
        .agg(*[F.max(F.when(F.col("i") == i, F.col("zn"))).alias(f"_n{i}") for i in range(8)])
    )
    out = src.join(scattered, ["row", "col"], "left")
    for i in range(8):
        out = out.withColumn(
            f"s{i}", (F.col("value") - F.col(f"_n{i}")) / F.lit(lens[i])
        )
    return out.drop(*[f"_n{i}" for i in range(8)])


def _winner_dir(sl) -> object:
    """argmax over positive slopes with lowest-index tie-break: array_max of
    (slope, -i) structs; NULL when no positive slope exists."""
    entries = F.array(
        *[
            F.when(
                sl(i).isNotNull() & (sl(i) > 0.0),
                F.struct(sl(i).alias("slope"), F.lit(-i).alias("negi")),
            )
            for i in range(8)
        ]
    )
    best = F.array_max(F.array_compact(entries))
    return -best["negi"]


def d8_pointer(cells: DataFrame, grid: GridSpec, *, esri_style: bool = False) -> DataFrame:
    """-> (row, col, pointer): 2^dir of the steepest downslope neighbor,
    0 for pits/flats (d8_pointer.rs:268-296)."""
    out_vals = [128, 1, 2, 4, 8, 16, 32, 64] if esri_style else [1, 2, 4, 8, 16, 32, 64, 128]
    g = _neighbor_slopes(cells, grid)
    d = _winner_dir(lambda i: F.col(f"s{i}"))
    ptr = F.coalesce(
        *[F.when(d == i, F.lit(out_vals[i])) for i in range(8)], F.lit(0)
    )
    return g.select("row", "col", ptr.cast("long").alias("pointer"))


def _flow_edges(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """-> (row, col, trow, tcol) one edge per cell with a downslope target."""
    g = _neighbor_slopes(cells, grid)
    d = _winner_dir(lambda i: F.col(f"s{i}"))
    g = g.withColumn("dir", d).filter(F.col("dir").isNotNull())
    trow = F.coalesce(*[F.when(F.col("dir") == i, F.col("row") + F.lit(D8_DY[i])) for i in range(8)])
    tcol = F.coalesce(*[F.when(F.col("dir") == i, F.col("col") + F.lit(D8_DX[i])) for i in range(8)])
    return g.select("row", "col", trow.alias("trow"), tcol.alias("tcol"))


def d8_flow_accumulation(
    cells: DataFrame, grid: GridSpec, *, max_iterations: int = 10_000
) -> DataFrame:
    """-> (row, col, value): number of cells draining through each cell
    (itself included), cell-count units (d8_flow_accum.rs:525-570).

    Distributed topological peel; iteration count = DAG depth (longest
    flow path), each iteration a handful of joins over the REMAINING edge
    set (shrinking every round)."""
    acc = (
        cells.filter(F.col("value").isNotNull())
        .select("row", "col", F.lit(1.0).alias("fa"))
        .localCheckpoint(eager=True)
    )
    edges = _flow_edges(cells, grid).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        if edges.isEmpty():
            break
        targets = edges.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct()
        # sources: cells with outgoing edge and NO incoming edge remaining
        src_edges = edges.join(targets, ["row", "col"], "left_anti")
        pushed = (
            src_edges.join(acc, ["row", "col"])
            .groupBy(F.col("trow").alias("row"), F.col("tcol").alias("col"))
            .agg(F.sum("fa").alias("inflow"))
        )
        acc = (
            acc.join(pushed, ["row", "col"], "left")
            .withColumn("fa", F.col("fa") + F.coalesce(F.col("inflow"), F.lit(0.0)))
            .drop("inflow")
            .transform(loop_checkpoint)
        )
        edges = edges.join(
            src_edges.select("row", "col"), ["row", "col"], "left_anti"
        ).transform(loop_checkpoint)
    return acc.select("row", "col", F.col("fa").alias("value"))


def fill_depressions(
    cells: DataFrame, *, max_iterations: int = 10_000
) -> DataFrame:
    """FillDepressions (hydro_analysis/fill_depressions.rs): raise every
    depression to its pour-point elevation (no flat_increment — flats stay
    flat, the reference's base behavior).

    Distributed formulation = Planchon-Darboux: W(c) starts at +inf except
    grid-BORDER cells (W = z, water can always leave there); iterate
        W(c) <- max(z(c), min over 8-neighbors W(n))
    to fixpoint. This monotone iteration converges to exactly the
    priority-flood result the reference computes with a serial heap; each
    round is one neighbor-gather join, localCheckpoint truncates lineage.
    Round count = the longest monotone drainage path — O(grid diameter)
    worst case on a spiral-bowl DEM but O(depression diameter) typically.
    -> (row, col, value) with value = filled elevation."""
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    stats = src.agg(
        F.min("row").alias("r0"), F.max("row").alias("r1"),
        F.min("col").alias("c0"), F.max("col").alias("c1"),
    ).collect()[0]
    border = (
        (F.col("row") == stats.r0) | (F.col("row") == stats.r1)
        | (F.col("col") == stats.c0) | (F.col("col") == stats.c1)
    )
    # cells adjacent to a missing (nodata) neighbor are also outlets, like
    # the reference's region-growing from every edge of the data area
    spark = cells.sparkSession
    offsets = spark.createDataFrame(
        [(D8_DX[i], D8_DY[i]) for i in range(8)], "dx int, dy int"
    )
    nbr_count = (
        src.crossJoin(F.broadcast(offsets))
        .select((F.col("row") + F.col("dy")).alias("row"), (F.col("col") + F.col("dx")).alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    cur = (
        src.join(nbr_count, ["row", "col"], "left")
        .withColumn(
            "w",
            F.when(border | (F.coalesce(F.col("__n"), F.lit(0)) < 8), F.col("value"))
            .otherwise(F.lit(float("inf"))),
        )
        .drop("__n")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        nb = (
            cur.crossJoin(F.broadcast(offsets))
            .select(
                (F.col("row") - F.col("dy")).alias("row"),
                (F.col("col") - F.col("dx")).alias("col"),
                F.col("w").alias("nw"),
            )
            .groupBy("row", "col")
            .agg(F.min("nw").alias("min_nw"))
        )
        nxt = (
            cur.join(nb, ["row", "col"], "left")
            .withColumn(
                "w2",
                F.greatest(
                    F.col("value"),
                    F.least(F.col("w"), F.coalesce(F.col("min_nw"), F.col("w"))),
                ),
            )
        )
        changed = nxt.filter(F.col("w2") != F.col("w")).limit(1).isEmpty()
        cur = nxt.select("row", "col", "value", F.col("w2").alias("w")).transform(
            loop_checkpoint
        )
        if changed:
            break
    return cur.select("row", "col", F.col("w").alias("value"))


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------
def _fd_ctes(source_sql: str, grid: GridSpec) -> str:
    lens = _grid_lengths(grid)
    dirs = ", ".join(
        f"({i}, {D8_DX[i]}, {D8_DY[i]}, {lens[i]!r})" for i in range(8)
    )
    return f"""
cells AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
dirs(i, dx, dy, len) AS (VALUES {dirs}),
slopes AS (
  SELECT c.row, c.col, d.i,
         (c.value - n.value) / d.len AS slope,
         c.row + d.dy AS trow, c.col + d.dx AS tcol
  FROM cells c CROSS JOIN dirs d
  JOIN cells n ON n.row = c.row + d.dy AND n.col = c.col + d.dx
),
winner AS (
  SELECT row, col, i, trow, tcol,
         row_number() OVER (PARTITION BY row, col ORDER BY slope DESC, i ASC) AS rn
  FROM slopes WHERE slope > 0.0
),
fd AS (SELECT row, col, i, trow, tcol FROM winner WHERE rn = 1)
"""


def d8_pointer_oracle_sql(source_sql: str, grid: GridSpec, *, esri_style: bool = False) -> str:
    out_vals = [128, 1, 2, 4, 8, 16, 32, 64] if esri_style else [1, 2, 4, 8, 16, 32, 64, 128]
    case = "CASE f.i " + " ".join(f"WHEN {i} THEN {out_vals[i]}" for i in range(8)) + " END"
    return f"""
WITH {_fd_ctes(source_sql, grid)}
SELECT c.row, c.col, CAST(coalesce({case}, 0) AS BIGINT) AS pointer
FROM cells c LEFT JOIN fd f ON f.row = c.row AND f.col = c.col
"""


def fill_depressions_oracle_sql(source_sql: str) -> str:
    """Oracle: the filled elevation equals the MINIMAX path cost —
    W(c) = min over paths c -> outlet of max(z along the path) — grown
    outlet-inward by a recursive CTE (finite w alphabet => terminates)."""
    return f"""
WITH RECURSIVE cells AS MATERIALIZED (
  SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL
),
adj AS MATERIALIZED (
  SELECT a.row AS ur, a.col AS uc, b.row AS vr, b.col AS vc, b.value AS vz
  FROM cells a JOIN cells b
    ON abs(b.row - a.row) <= 1 AND abs(b.col - a.col) <= 1
   AND NOT (b.row = a.row AND b.col = a.col)
),
bounds AS (SELECT min(row) AS r0, max(row) AS r1, min(col) AS c0, max(col) AS c1 FROM cells),
deg AS (SELECT ur AS row, uc AS col, count(*) AS n FROM adj GROUP BY 1, 2),
outlets AS (
  SELECT c.row, c.col, c.value
  FROM cells c CROSS JOIN bounds b
  LEFT JOIN deg d ON d.row = c.row AND d.col = c.col
  WHERE c.row = b.r0 OR c.row = b.r1 OR c.col = b.c0 OR c.col = b.c1
     OR coalesce(d.n, 0) < 8
),
f(row, col, w) AS (
  SELECT row, col, value FROM outlets
  UNION
  SELECT e.vr, e.vc, greatest(e.vz, f.w)
  FROM f JOIN adj e ON e.ur = f.row AND e.uc = f.col
)
SELECT row, col, min(w) AS value FROM f GROUP BY 1, 2
"""


def d8_flow_accum_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    """Accumulation via recursive path closure: value(c) = number of cells
    whose pointer path reaches c (self included)."""
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
walk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol
  FROM walk w JOIN fd f ON f.row = w.row AND f.col = w.col
)
SELECT row, col, CAST(count(*) AS DOUBLE) AS value FROM walk GROUP BY 1, 2
"""


def sink(cells: DataFrame, *, max_iterations: int = 10_000) -> DataFrame:
    """Sink (hydro_analysis/sink.rs): label the depressions of a DEM.
    A depression is an 8-connected component of cells strictly raised by
    depression filling (filled > DEM, the reference's `flats` marking at
    sink.rs:383-395). Ids are densely numbered 1..n in raster-scan order
    of each component's minimum cell; the reference instead numbers by
    outlet-stack pop order (sink.rs:425-440), which depends on its serial
    processing order — the component SETS are identical.
    -> (row, col, sink_id)."""
    from whitebox_tools_spark.operators.raster_vector import clump

    filled = fill_depressions(cells, max_iterations=max_iterations).select(
        "row", "col", F.col("value").alias("w")
    )
    dep = (
        cells.filter(F.col("value").isNotNull())
        .join(filled, ["row", "col"])
        .filter(F.round(F.col("w") - F.col("value"), 6) > 0)
        .select("row", "col", F.lit(1.0).alias("value"))
    )
    return clump(dep).select("row", "col", F.col("clump_id").alias("sink_id"))


def basins(cells: DataFrame, grid: GridSpec, *, max_doublings: int = 48) -> DataFrame:
    """Basins (hydro_analysis/basins.rs): label every cell with the drainage
    basin that carries it to its terminal cell (a pit or an edge outlet —
    any cell with no positive downslope), basins numbered 1..n in raster
    scan order of their terminal cells.

    Spark plan: successor POINTER DOUBLING on the D8 flow graph — each
    round replaces every cell's successor with its successor's successor,
    reaching the terminal in O(log path-length) self-joins (the same
    shortcut trick as clump), then one dense renumbering of terminals.
    -> (row, col, basin_id)."""
    BIG = 1 << 31
    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    edges = _flow_edges(cells, grid)
    key = (F.col("row") * BIG + F.col("col")).alias("key")
    skey = (F.col("trow") * BIG + F.col("tcol")).alias("skey")
    succ = src.join(edges, ["row", "col"], "left").select(
        key,
        F.coalesce(F.col("trow") * BIG + F.col("tcol"),
                   F.col("row") * BIG + F.col("col")).alias("skey"),
    ).localCheckpoint(eager=True)
    _ = skey
    for _i in range(max_doublings):
        s2 = succ.select(F.col("key").alias("k2"), F.col("skey").alias("s2"))
        nxt = (
            succ.join(s2, succ["skey"] == s2["k2"])
            .select("key", F.col("s2").alias("skey"))
            .transform(loop_checkpoint)
        )
        changed = (
            nxt.join(succ.select("key", F.col("skey").alias("old")), "key")
            .filter(F.col("skey") != F.col("old"))
            .limit(1)
            .isEmpty()
        )
        succ = nxt
        if changed:
            break
    from whitebox_tools_spark.distributed import with_global_seq

    terms = succ.select(F.col("skey").alias("t")).distinct()
    ids = with_global_seq(terms, ["t"], out_col="basin_id")
    return (
        succ.join(F.broadcast(ids), succ["skey"] == ids["t"])
        .select(
            F.floor(F.col("key") / BIG).cast("long").alias("row"),
            (F.col("key") % BIG).alias("col"),
            "basin_id",
        )
    )


def basins_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    """Oracle: walk every cell down the D8 pointers (recursive CTE) to its
    terminal; basins renumbered densely by terminal scan order."""
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
walk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol
  FROM walk w JOIN fd f ON f.row = w.row AND f.col = w.col
),
term AS (
  SELECT w.orow, w.ocol, w.row AS trow, w.col AS tcol
  FROM walk w ANTI JOIN fd f ON f.row = w.row AND f.col = w.col
),
ids AS (
  SELECT trow, tcol,
         CAST(row_number() OVER (ORDER BY trow * 2147483648 + tcol) AS BIGINT) AS basin_id
  FROM (SELECT DISTINCT trow, tcol FROM term)
)
SELECT t.orow AS row, t.ocol AS col, i.basin_id
FROM term t JOIN ids i ON t.trow = i.trow AND t.tcol = i.tcol
"""


def cost_distance(
    cost: DataFrame,
    sources: DataFrame,
    grid: GridSpec,
    *,
    max_iterations: int = 10_000,
) -> DataFrame:
    """CostDistance (gis_analysis/cost_distance.rs:332-340): least
    accumulated cost from any source cell, edge weight =
    (cost(a) + cost(b)) / 2 * grid_length(direction).

    Distributed Bellman-Ford supersteps: every round relaxes ALL 8-neighbor
    edges at once (one gather join); rounds = hop count of the longest
    least-cost path. The reference's Dijkstra heap is serial; this is the
    bulk-synchronous equivalent (pinned against a python Dijkstra in
    pytest). -> (row, col, value) accumulated cost; unreachable cells
    absent."""
    lens = _grid_lengths(grid)
    spark = cost.sparkSession
    offsets = spark.createDataFrame(
        [(D8_DX[i], D8_DY[i], lens[i]) for i in range(8)], "dx int, dy int, len double"
    )
    c = cost.filter(F.col("value").isNotNull()).select("row", "col", F.col("value").alias("cost"))
    acc = (
        c.join(sources.select("row", "col").withColumn("__s", F.lit(1)), ["row", "col"], "left")
        .withColumn("acc", F.when(F.col("__s").isNotNull(), F.lit(0.0)))
        .drop("__s")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        nb = (
            acc.filter(F.col("acc").isNotNull())
            .crossJoin(F.broadcast(offsets))
            .select(
                (F.col("row") + F.col("dy")).alias("row"),
                (F.col("col") + F.col("dx")).alias("col"),
                (F.col("acc") + F.col("cost") * F.lit(0.5) * F.col("len")).alias("half"),
                (F.lit(0.5) * F.col("len")).alias("w"),
            )
        )
        relax = (
            nb.join(acc.select("row", "col", F.col("cost").alias("tcost")), ["row", "col"])
            .select("row", "col", (F.col("half") + F.col("tcost") * F.col("w")).alias("cand"))
            .groupBy("row", "col")
            .agg(F.min("cand").alias("cand"))
        )
        nxt = (
            acc.join(relax, ["row", "col"], "left")
            .withColumn("acc2", F.least(F.coalesce(F.col("acc"), F.lit(float("inf"))),
                                        F.coalesce(F.col("cand"), F.lit(float("inf")))))
        )
        changed = nxt.filter(
            F.col("acc2") != F.coalesce(F.col("acc"), F.lit(float("inf")))
        ).limit(1).isEmpty()
        acc = nxt.select(
            "row", "col", "cost",
            F.when(F.col("acc2") != float("inf"), F.col("acc2")).alias("acc"),
        ).transform(loop_checkpoint)
        if changed:
            break
    return acc.filter(F.col("acc").isNotNull()).select("row", "col", F.col("acc").alias("value"))


# ---------------------------------------------------------------------------
# D-infinity pointer (Tarboton 1997), hydro_analysis/dinf_pointer.rs:225-320.
# Per-cell closed-form over 8 triangular facets — pure expressions, one
# scatter-shuffle. The facet formulas are generated ONCE as SQL text that
# parses identically in Spark SQL and DuckDB, so the oracle is the same
# arithmetic by construction.
# ---------------------------------------------------------------------------
# (ac, af, e1 neighbor (dx,dy), e2 neighbor (dx,dy)) per facet, in the
# reference's iteration order (ties keep the LATER facet: s >= max_slope)
_DINF_FACETS = [
    (0, 1, (1, 0), (1, -1)),
    (1, -1, (0, -1), (1, -1)),
    (1, 1, (0, -1), (-1, -1)),
    (2, -1, (-1, 0), (-1, -1)),
    (2, 1, (-1, 0), (-1, 1)),
    (3, -1, (0, 1), (-1, 1)),
    (3, 1, (0, 1), (1, 1)),
    (4, -1, (1, 0), (1, 1)),
]

_DINF_NBRS = sorted({f[2] for f in _DINF_FACETS} | {f[3] for f in _DINF_FACETS})


def _nb_name(dx: int, dy: int) -> str:
    return "n_" + str(dx).replace("-", "m") + "_" + str(dy).replace("-", "m")


def _dinf_facet_sql(grid: GridSpec) -> list[tuple[str, str]]:
    """-> [(s_expr, dir_expr)] per facet, over columns e0 and n_{dx}_{dy}."""
    G = (grid.res_x + grid.res_y) / 2.0
    D = (grid.res_x**2 + grid.res_y**2) ** 0.5
    out = []
    for ac, af, (dx1, dy1), (dx2, dy2) in _DINF_FACETS:
        e1, e2 = _nb_name(dx1, dy1), _nb_name(dx2, dy2)
        s1 = f"((e0 - {e1}) / {G!r})"
        s2 = f"(({e1} - {e2}) / {G!r})"
        r0 = f"(CASE WHEN {s1} <> 0.0 THEN atan({s2} / {s1}) ELSE pi() / 2.0 END)"
        r = f"(CASE WHEN {r0} < 0.0 THEN 0.0 WHEN {r0} > atan(1.0) THEN atan(1.0) ELSE {r0} END)"
        s_full = (
            f"(CASE WHEN {r0} < 0.0 THEN {s1} "
            f"WHEN {r0} > atan(1.0) THEN ((e0 - {e2}) / {D!r}) "
            f"ELSE sqrt({s1} * {s1} + {s2} * {s2}) END)"
        )
        s = (
            f"(CASE WHEN {e1} IS NULL OR {e2} IS NULL THEN NULL "
            f"WHEN e0 > {e1} AND e0 > {e2} THEN {s_full} "
            f"WHEN e0 > {e1} THEN {s1} "
            f"WHEN e0 > {e2} THEN ((e0 - {e2}) / {D!r}) "
            f"ELSE NULL END)"
        )
        rr = (
            f"(CASE WHEN e0 > {e1} AND e0 > {e2} THEN {r} "
            f"WHEN e0 > {e1} THEN 0.0 ELSE atan(1.0) END)"
        )
        d = f"({af!r} * {rr} + {ac!r} * pi() / 2.0)"
        # the reference skips candidates whose slope is exactly 0.00001
        s = f"(CASE WHEN {s} = 0.00001 THEN NULL ELSE {s} END)"
        out.append((s, d))
    return out


def _dinf_out_sql(grid: GridSpec) -> str:
    """Winner selection + angle normalization over facet columns s_0..s_7 /
    d_0..d_7 (dinf_pointer.rs:311-318); -1.0 for cells with no downslope."""
    best = "greatest(" + ", ".join(f"coalesce(s_{i}, -1e308)" for i in range(8)) + ")"
    pick = " ".join(
        f"WHEN coalesce(s_{i}, -1e308) = __best THEN d_{i}" for i in range(7, -1, -1)
    )
    return (
        f"CASE WHEN __best > 0.0 THEN "
        f"(CASE WHEN (360.0 - degrees(CASE {pick} END) + 90.0) > 360.0 "
        f"THEN 360.0 - degrees(CASE {pick} END) + 90.0 - 360.0 "
        f"ELSE 360.0 - degrees(CASE {pick} END) + 90.0 END) "
        f"ELSE -1.0 END"
    ).replace("__best", best)


def dinf_pointer(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """-> (row, col, value): D-infinity flow direction in degrees
    (clockwise from north, reference convention), -1.0 for pits/flats."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", F.col("value").alias("e0"))
    offs = spark.createDataFrame(list(_DINF_NBRS), "dx int, dy int")
    scattered = (
        src.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "dx", "dy", F.col("e0").alias("nv"),
        )
    )
    pivoted = scattered.groupBy("row", "col").agg(
        *[
            F.max(
                F.when((F.col("dx") == dx) & (F.col("dy") == dy), F.col("nv"))
            ).alias(_nb_name(dx, dy))
            for dx, dy in _DINF_NBRS
        ]
    )
    wide = src.join(pivoted, ["row", "col"], "left")
    for i, (s_sql, d_sql) in enumerate(_dinf_facet_sql(grid)):
        wide = wide.withColumn(f"s_{i}", F.expr(s_sql)).withColumn(f"d_{i}", F.expr(d_sql))
    return wide.select("row", "col", F.expr(_dinf_out_sql(grid)).alias("value"))


def dinf_pointer_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    nbr_cols = ",\n  ".join(
        f"max(CASE WHEN o.dx = {dx} AND o.dy = {dy} THEN s.e0 END) AS {_nb_name(dx, dy)}"
        for dx, dy in _DINF_NBRS
    )
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in _DINF_NBRS)
    facet_cols = ",\n  ".join(
        f"{s} AS s_{i},\n  {d} AS d_{i}"
        for i, (s, d) in enumerate(_dinf_facet_sql(grid))
    )
    return f"""
WITH src AS (SELECT row, col, value AS e0 FROM ({source_sql}) WHERE value IS NOT NULL),
offs(dx, dy) AS (VALUES {offs}),
piv AS (
  SELECT s.row - o.dy AS row, s.col - o.dx AS col,
  {nbr_cols}
  FROM src s CROSS JOIN offs o
  GROUP BY 1, 2
),
wide AS (
  SELECT c.row, c.col, c.e0, p.* EXCLUDE (row, col)
  FROM src c LEFT JOIN piv p ON p.row = c.row AND p.col = c.col
),
facets AS (
  SELECT row, col, e0,
  {facet_cols}
  FROM wide
)
SELECT row, col, {_dinf_out_sql(grid)} AS value FROM facets
"""


def fd8_pointer(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """FD8Pointer (hydro_analysis/fd8_pointer.rs:227-247): bitmask of ALL
    strictly-downslope neighbors, bit n set iff z(neighbor_n) < z, neighbor
    order dx=[1,1,1,0,-1,-1,-1,0], dy=[-1,0,1,1,1,0,-1,-1]. Pure
    expressions over one scatter-pivot. -> (row, col, pointer)."""
    spark = cells.sparkSession
    dxs = [1, 1, 1, 0, -1, -1, -1, 0]
    dys = [-1, 0, 1, 1, 1, 0, -1, -1]
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offs = spark.createDataFrame(
        [(n, dxs[n], dys[n]) for n in range(8)], "n int, dx int, dy int"
    )
    scattered = src.crossJoin(F.broadcast(offs)).select(
        (F.col("row") - F.col("dy")).alias("row"),
        (F.col("col") - F.col("dx")).alias("col"),
        "n", F.col("value").alias("zn"),
    )
    piv = scattered.groupBy("row", "col").agg(
        *[F.max(F.when(F.col("n") == n, F.col("zn"))).alias(f"z{n}") for n in range(8)]
    )
    bits = None
    for n in range(8):
        b = F.when(
            F.col(f"z{n}").isNotNull() & (F.col(f"z{n}") < F.col("value")),
            F.lit(1 << n),
        ).otherwise(F.lit(0))
        bits = b if bits is None else bits + b
    return (
        src.join(piv, ["row", "col"], "left")
        .select("row", "col", bits.cast("long").alias("pointer"))
    )


def fd8_pointer_oracle_sql(source_sql: str) -> str:
    dxs = [1, 1, 1, 0, -1, -1, -1, 0]
    dys = [-1, 0, 1, 1, 1, 0, -1, -1]
    offs = ", ".join(f"({n}, {dxs[n]}, {dys[n]})" for n in range(8))
    zcols = ",\n  ".join(
        f"max(CASE WHEN o.n = {n} THEN s.value END) AS z{n}" for n in range(8)
    )
    bits = " + ".join(
        f"CASE WHEN z{n} IS NOT NULL AND z{n} < c.value THEN {1 << n} ELSE 0 END"
        for n in range(8)
    )
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
offs(n, dx, dy) AS (VALUES {offs}),
piv AS (
  SELECT s.row - o.dy AS row, s.col - o.dx AS col,
  {zcols}
  FROM src s CROSS JOIN offs o GROUP BY 1, 2
)
SELECT c.row, c.col, CAST({bits} AS BIGINT) AS pointer
FROM src c LEFT JOIN piv ON piv.row = c.row AND piv.col = c.col
"""


# ---------------------------------------------------------------------------
# Fractional flow accumulation (FD8, D-infinity): the same distributed
# topological peel as d8_flow_accumulation, generalized to weighted
# multi-edges. Each round resolves every remaining cell with no unresolved
# inflow — iteration count = flow-DAG depth, each round a handful of joins
# over the SHRINKING edge set. No DuckDB oracle exists (weighted transitive
# closure enumerates paths, which explode combinatorially in SQL); the
# pytest oracle runs the reference's stack algorithm in numpy instead.
# ---------------------------------------------------------------------------
def _weighted_flow_accum(
    cells: DataFrame, edges: DataFrame, *, max_iterations: int = 10_000
) -> DataFrame:
    """edges: (row, col, trow, tcol, frac); frac sums to <= 1 per source
    (flow to off-grid/nodata targets vanishes, as in the reference)."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    acc = (
        cells.filter(F.col("value").isNotNull())
        .select("row", "col", F.lit(1.0).alias("fa"))
        .localCheckpoint(eager=True)
    )
    edges = edges.localCheckpoint(eager=True)
    for _ in range(max_iterations):
        if edges.isEmpty():
            break
        targets = edges.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct()
        src_edges = edges.join(targets, ["row", "col"], "left_anti")
        pushed = (
            src_edges.join(acc, ["row", "col"])
            .groupBy(F.col("trow").alias("row"), F.col("tcol").alias("col"))
            .agg(F.sum(F.col("fa") * F.col("frac")).alias("inflow"))
        )
        acc = (
            acc.join(pushed, ["row", "col"], "left")
            .withColumn("fa", F.col("fa") + F.coalesce(F.col("inflow"), F.lit(0.0)))
            .drop("inflow")
            .transform(loop_checkpoint)
        )
        edges = edges.join(
            src_edges.select("row", "col").distinct(), ["row", "col"], "left_anti"
        ).transform(loop_checkpoint)
    return acc.select("row", "col", F.col("fa").alias("value"))


def fd8_edges(
    cells: DataFrame, grid: GridSpec, *, exponent: float = 1.1,
    weight: str = "slope",
) -> DataFrame:
    """FD8 fractional flow edges (hydro_analysis/fd8_flow_accum.rs:400-470):
    flow split among ALL strictly-lower valid neighbors proportional to
    slope^exponent — or to raw elevation DROP^exponent (weight="drop"),
    the variant upslope_depression_storage.rs:507-520 uses.
    -> (row, col, trow, tcol, frac), filtered to valid targets (flow to
    off-grid/nodata vanishes, as in the reference)."""
    g = _neighbor_slopes(cells, grid)
    lens = _grid_lengths(grid)
    drop = weight == "drop"
    w = [
        F.when(F.col(f"s{i}").isNotNull() & (F.col(f"s{i}") > 0.0),
               F.pow(F.col(f"s{i}") * (F.lit(lens[i]) if drop else F.lit(1.0)),
                     F.lit(exponent))).otherwise(F.lit(0.0))
        for i in range(8)
    ]
    total = sum(w[1:], w[0])
    g = g.withColumn("__tw", total).filter(F.col("__tw") > 0.0)
    parts = []
    for i in range(8):
        parts.append(
            g.filter(w[i] > 0.0).select(
                "row", "col",
                (F.col("row") + F.lit(D8_DY[i])).alias("trow"),
                (F.col("col") + F.lit(D8_DX[i])).alias("tcol"),
                (w[i] / F.col("__tw")).alias("frac"),
            )
        )
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    valid = cells.filter(F.col("value").isNotNull()).select(
        F.col("row").alias("trow"), F.col("col").alias("tcol")
    )
    return edges.join(valid, ["trow", "tcol"])  # drop flow into the void


def fd8_flow_accum(
    cells: DataFrame, grid: GridSpec, *, exponent: float = 1.1,
    max_iterations: int = 10_000,
) -> DataFrame:
    """FD8FlowAccumulation (hydro_analysis/fd8_flow_accum.rs:400-470,
    convergence threshold disabled = pure FD8) via the superstep peel.
    -> (row, col, value) in cell-count units (cell's own unit included).
    Scale path: flow_stitch.fd8_flow_accumulation_tiled (O(log n) rounds)."""
    edges = fd8_edges(cells, grid, exponent=exponent)
    return _weighted_flow_accum(cells, edges, max_iterations=max_iterations)


# sector k covers dir in [k*45, (k+1)*45); target1 = direction k*45,
# target2 = (k+1)*45 (mod 360). Offsets (dx, dy) per 45-degree direction,
# clockwise from north (dinf_flow_accum.rs:545-603).
_DINF_DIRS = [
    (0, -1), (1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1)
]


def dinf_edges(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """D-infinity fractional flow edges (hydro_analysis/dinf_flow_accum.rs:
    532-646): the Tarboton (1997) split — each cell's flow divides between
    the two neighbors bracketing its D-inf angle with proportions linear in
    the 45-degree offset. -> (row, col, trow, tcol, frac)."""
    # materialize the pointer raster first (the reference computes the
    # flow_dir array as a whole before accumulating): deriving the two
    # targets inlines the 8-facet closed form ~30x otherwise and catalyst
    # optimization time explodes
    ptr = dinf_pointer(cells, grid).withColumnRenamed("value", "dir").localCheckpoint()
    flows = ptr.filter(F.col("dir") >= 0.0)
    k = F.least(F.floor(F.col("dir") / 45.0).cast("int"), F.lit(7))
    p2 = (F.col("dir") - k.cast("double") * 45.0) / 45.0
    p1 = F.lit(1.0) - p2
    t1row = F.col("row") + F.coalesce(*[F.when(k == i, F.lit(_DINF_DIRS[i][1])) for i in range(8)])
    t1col = F.col("col") + F.coalesce(*[F.when(k == i, F.lit(_DINF_DIRS[i][0])) for i in range(8)])
    k2 = (k + 1) % 8
    t2row = F.col("row") + F.coalesce(*[F.when(k2 == i, F.lit(_DINF_DIRS[i][1])) for i in range(8)])
    t2col = F.col("col") + F.coalesce(*[F.when(k2 == i, F.lit(_DINF_DIRS[i][0])) for i in range(8)])
    e1 = flows.filter(p1 > 0.0).select(
        "row", "col", t1row.alias("trow"), t1col.alias("tcol"), p1.alias("frac")
    )
    e2 = flows.filter(p2 > 0.0).select(
        "row", "col", t2row.alias("trow"), t2col.alias("tcol"), p2.alias("frac")
    )
    edges = e1.unionByName(e2)
    valid = cells.filter(F.col("value").isNotNull()).select(
        F.col("row").alias("trow"), F.col("col").alias("tcol")
    )
    return edges.join(valid, ["trow", "tcol"])


def dinf_flow_accum(
    cells: DataFrame, grid: GridSpec, *, max_iterations: int = 10_000
) -> DataFrame:
    """DInfFlowAccumulation via the superstep peel (see dinf_edges).
    -> (row, col, value) in cell-count units. Scale path:
    flow_stitch.dinf_flow_accumulation_tiled (O(log n) rounds)."""
    edges = dinf_edges(cells, grid)
    return _weighted_flow_accum(cells, edges, max_iterations=max_iterations)


def fill_pits(cells: DataFrame) -> DataFrame:
    """FillPits (hydro_analysis/fill_pits.rs:208-230): raise single-cell
    pits (z below every valid 8-neighbor) to the lowest neighbor's
    elevation. One scatter-aggregate ZIP. -> (row, col, value)."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)],
        "dx int, dy int",
    )
    mins = (
        src.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            F.col("value").alias("zn"),
        )
        .groupBy("row", "col")
        .agg(F.min("zn").alias("min_zn"))
    )
    return src.join(mins, ["row", "col"], "left").select(
        "row", "col",
        F.when(
            F.col("min_zn").isNotNull() & (F.col("value") < F.col("min_zn")),
            F.col("min_zn"),
        ).otherwise(F.col("value")).alias("value"),
    )


def fill_pits_oracle_sql(source_sql: str) -> str:
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)
    )
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
offs(dx, dy) AS (VALUES {offs}),
mins AS (
  SELECT s.row - o.dy AS row, s.col - o.dx AS col, min(s.value) AS min_zn
  FROM src s CROSS JOIN offs o GROUP BY 1, 2
)
SELECT c.row, c.col,
       CASE WHEN m.min_zn IS NOT NULL AND c.value < m.min_zn
            THEN m.min_zn ELSE c.value END AS value
FROM src c LEFT JOIN mins m ON m.row = c.row AND m.col = c.col
"""


def find_noflow_cells(cells: DataFrame) -> DataFrame:
    """FindNoFlowCells (hydro_analysis/find_noflow_cells.rs:205-224): 1.0
    where the DEM cell has NO strictly-lower valid 8-neighbor, NULL
    elsewhere."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)],
        "dx int, dy int",
    )
    mins = (
        src.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            F.col("value").alias("zn"),
        )
        .groupBy("row", "col")
        .agg(F.min("zn").alias("min_zn"))
    )
    return src.join(mins, ["row", "col"], "left").select(
        "row", "col",
        F.when(
            F.col("min_zn").isNull() | (F.col("min_zn") >= F.col("value")), F.lit(1.0)
        ).alias("value"),
    )


def find_noflow_oracle_sql(source_sql: str) -> str:
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)
    )
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
offs(dx, dy) AS (VALUES {offs}),
mins AS (
  SELECT s.row - o.dy AS row, s.col - o.dx AS col, min(s.value) AS min_zn
  FROM src s CROSS JOIN offs o GROUP BY 1, 2
)
SELECT c.row, c.col,
       CASE WHEN m.min_zn IS NULL OR m.min_zn >= c.value THEN 1.0 END AS value
FROM src c LEFT JOIN mins m ON m.row = c.row AND m.col = c.col
"""


def flow_length_diff(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """FlowLengthDiff (hydro_analysis/flow_length_diff.rs:325-346): max
    |dfl(c) - dfl(n)| over the 4 cardinal neighbors of the downslope
    flowpath length raster; NULL where no valid cardinal neighbor. The
    dfl input is materialized (localCheckpoint) before the focal pass —
    the reference likewise computes it as an intermediate raster."""
    from whitebox_tools_spark.operators.streams import downslope_flowpath_length

    dfl = (
        downslope_flowpath_length(cells, grid)
        .withColumn("value", F.round(F.col("value"), 6))  # match the dfl oracle's 6dp
        .localCheckpoint()
    )
    spark = cells.sparkSession
    offs = spark.createDataFrame(
        [(1, 0), (-1, 0), (0, 1), (0, -1)], "dx int, dy int"
    )
    nbr = (
        dfl.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            F.col("value").alias("zn"),
        )
    )
    agg = nbr.join(
        dfl.withColumnRenamed("value", "z"), ["row", "col"]
    ).groupBy("row", "col").agg(
        F.max(F.abs(F.col("z") - F.col("zn"))).alias("value")
    )
    return dfl.select("row", "col").join(agg, ["row", "col"], "left")


def flow_length_diff_oracle_sql(dfl_sql: str) -> str:
    """dfl_sql: an oracle producing the downslope-flowpath-length raster."""
    return f"""
WITH dfl AS (SELECT row, col, value FROM ({dfl_sql}) t),
nbr AS (
  SELECT c.row, c.col, max(abs(c.value - s.zn)) AS value
  FROM dfl c JOIN (SELECT d.row - o.dy AS row, d.col - o.dx AS col,
                          d.value AS zn
                   FROM dfl d CROSS JOIN (VALUES (1,0),(-1,0),(0,1),(0,-1)) o(dx, dy)) s
    ON c.row = s.row AND c.col = s.col
  GROUP BY c.row, c.col
)
SELECT d.row, d.col, n.value
FROM dfl d LEFT JOIN nbr n ON n.row = d.row AND n.col = d.col
"""


def average_upslope_flowpath_length(
    cells: DataFrame, grid: GridSpec, *, max_iterations: int = 10_000
) -> DataFrame:
    """AverageUpslopeFlowpathLength (hydro_analysis/
    average_upslope_flowpath_length.rs:349-391): the reference's recurrence
    S_n = sum_in(S_c + L_cn), N_n = 1 + sum_in(N_c), out = S/N — which
    unfolds to (total upslope flow-tree edge length) / (upslope cell count,
    self included). Same topological peel as d8_flow_accumulation, carrying
    the (S, N) pair. -> (row, col, value)."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    lens = _grid_lengths(grid)
    g = _flow_edges(cells, grid)
    lencase = F.coalesce(
        *[
            F.when(
                (F.col("trow") - F.col("row") == D8_DY[i])
                & (F.col("tcol") - F.col("col") == D8_DX[i]),
                F.lit(lens[i]),
            )
            for i in range(8)
        ]
    )
    valid = cells.filter(F.col("value").isNotNull()).select(
        F.col("row").alias("trow"), F.col("col").alias("tcol")
    )
    edges = (
        g.withColumn("len", lencase).join(valid, ["trow", "tcol"])
        .localCheckpoint(eager=True)
    )
    acc = (
        cells.filter(F.col("value").isNotNull())
        .select("row", "col", F.lit(0.0).alias("s"), F.lit(1.0).alias("n"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        if edges.isEmpty():
            break
        targets = edges.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct()
        src_edges = edges.join(targets, ["row", "col"], "left_anti")
        pushed = (
            src_edges.join(acc, ["row", "col"])
            .groupBy(F.col("trow").alias("row"), F.col("tcol").alias("col"))
            .agg(
                F.sum(F.col("s") + F.col("len")).alias("ds"),
                F.sum(F.col("n")).alias("dn"),
            )
        )
        acc = (
            acc.join(pushed, ["row", "col"], "left")
            .withColumn("s", F.col("s") + F.coalesce(F.col("ds"), F.lit(0.0)))
            .withColumn("n", F.col("n") + F.coalesce(F.col("dn"), F.lit(0.0)))
            .drop("ds", "dn")
            .transform(loop_checkpoint)
        )
        edges = edges.join(
            src_edges.select("row", "col"), ["row", "col"], "left_anti"
        ).transform(loop_checkpoint)
    return acc.select("row", "col", (F.col("s") / F.col("n")).alias("value"))


def avg_upslope_flowpath_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    """S_c = sum of L(a) over cells a that reach c (a != c, one outgoing
    edge each); N_c = count reaching c including itself."""
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
walk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol
  FROM walk w JOIN fd f ON f.row = w.row AND f.col = w.col
),
lens AS (
  SELECT f.row, f.col, d.len FROM fd f JOIN dirs d ON d.i = f.i
),
agg AS (
  SELECT w.row, w.col,
         CAST(count(*) AS DOUBLE) AS n,
         coalesce(sum(CASE WHEN NOT (w.orow = w.row AND w.ocol = w.col)
                           THEN l.len END), 0.0) AS s
  FROM walk w
  LEFT JOIN lens l ON l.row = w.orow AND l.col = w.ocol
  GROUP BY w.row, w.col
)
SELECT row, col, s / n AS value FROM agg
"""


def elev_above_pit(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """ElevAbovePit (terrain_analysis/elev_above_pit.rs): z minus the
    elevation of the pit at the end of the cell's D8 flow path (pits and
    flats are their own terminal -> 0). Successor pointer doubling.
    -> (row, col, value)."""
    from whitebox_tools_spark.operators.streams import _chain_terminals

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    term = _chain_terminals(
        src.select("row", "col"), _flow_edges(cells, grid)
    )
    tz = src.select(
        F.col("row").alias("trow"), F.col("col").alias("tcol"),
        F.col("value").alias("tz"),
    )
    return (
        src.join(term, ["row", "col"])
        .join(tz, ["trow", "tcol"])
        .select("row", "col", (F.col("value") - F.col("tz")).alias("value"))
    )


def elev_above_pit_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
walk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol
  FROM walk w JOIN fd f ON f.row = w.row AND f.col = w.col
),
term AS (
  SELECT w.orow AS row, w.ocol AS col, w.row AS trow, w.col AS tcol
  FROM walk w
  LEFT JOIN fd f ON f.row = w.row AND f.col = w.col
  WHERE f.row IS NULL
)
SELECT c.row, c.col, c.value - t.value AS value
FROM cells c
JOIN term ON term.row = c.row AND term.col = c.col
JOIN cells t ON t.row = term.trow AND t.col = term.tcol
"""


def d8_mass_flux(
    cells: DataFrame, grid: GridSpec, loading: DataFrame, efficiency: DataFrame,
    absorption: DataFrame, *, max_iterations: int = 10_000,
) -> DataFrame:
    """D8MassFlux (hydro_analysis/d8_mass_flux.rs): accumulated mass per
    cell — out(c) = load(c) + sum over inflowing neighbors i of
    (out(i) - absorption(i)) * efficiency(i). Topological peel carrying
    the running mass. -> (row, col, value)."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    aux = (
        loading.select("row", "col", F.col("value").alias("ld"))
        .join(efficiency.select("row", "col", F.col("value").alias("eff")), ["row", "col"])
        .join(absorption.select("row", "col", F.col("value").alias("ab")), ["row", "col"])
    )
    acc = (
        cells.filter(F.col("value").isNotNull())
        .select("row", "col")
        .join(aux, ["row", "col"])
        .select("row", "col", F.col("ld").alias("m"), "eff", "ab")
        .localCheckpoint(eager=True)
    )
    edges = _flow_edges(cells, grid).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        if edges.isEmpty():
            break
        targets = edges.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct()
        src_edges = edges.join(targets, ["row", "col"], "left_anti")
        pushed = (
            src_edges.join(acc, ["row", "col"])
            .groupBy(F.col("trow").alias("row"), F.col("tcol").alias("col"))
            .agg(F.sum((F.col("m") - F.col("ab")) * F.col("eff")).alias("dm"))
        )
        acc = (
            acc.join(pushed, ["row", "col"], "left")
            .withColumn("m", F.col("m") + F.coalesce(F.col("dm"), F.lit(0.0)))
            .drop("dm")
            .transform(loop_checkpoint)
        )
        edges = edges.join(
            src_edges.select("row", "col"), ["row", "col"], "left_anti"
        ).transform(loop_checkpoint)
    return acc.select("row", "col", F.col("m").alias("value"))


def d8_mass_flux_oracle_sql(
    source_sql: str, grid: GridSpec, loading_sql: str, efficiency_sql: str,
    absorption_sql: str,
) -> str:
    """Closed form: out(c) = load(c) + sum over upslope origins o != c of
    (load(o) - abs(o)) * product of eff over the path cells o..pred(c) —
    the walk carries the efficiency product (paths are unique in a D8
    forest, so UNION ALL enumerates each (origin, cell) pair once)."""
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
ld AS (SELECT row, col, value AS ld FROM ({loading_sql}) t),
ef AS (SELECT row, col, value AS eff FROM ({efficiency_sql}) t),
ab AS (SELECT row, col, value AS ab FROM ({absorption_sql}) t),
walk(orow, ocol, row, col, prod) AS (
  SELECT row, col, row, col, CAST(1.0 AS DOUBLE) FROM cells
  UNION ALL
  SELECT w.orow, w.ocol, f.trow, f.tcol, w.prod * e.eff
  FROM walk w
  JOIN fd f ON f.row = w.row AND f.col = w.col
  JOIN ef e ON e.row = w.row AND e.col = w.col
),
contrib AS (
  SELECT w.row, w.col,
         sum((l.ld - a.ab) * w.prod) AS s
  FROM walk w
  JOIN ld l ON l.row = w.orow AND l.col = w.ocol
  JOIN ab a ON a.row = w.orow AND a.col = w.ocol
  WHERE NOT (w.orow = w.row AND w.ocol = w.col)
  GROUP BY w.row, w.col
)
SELECT c.row, c.col, l.ld + coalesce(ct.s, 0.0) AS value
FROM cells c
JOIN ld l ON l.row = c.row AND l.col = c.col
LEFT JOIN contrib ct ON ct.row = c.row AND ct.col = c.col
"""


def elev_relative_to_watershed_min_max(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """ElevRelativeToWatershedMinMax (terrain_analysis/
    elev_relative_to_watershed_min_max.rs:300-316): (z - basin_min) /
    (basin_max - basin_min) with basins labeled by the engine's `basins`
    operator (pointer-doubling to the D8 terminal). The basin raster is
    materialized before the per-basin aggregate. -> (row, col, value)."""
    b = basins(cells, grid).withColumnRenamed("basin_id", "bid").localCheckpoint()
    dem = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    j = dem.join(b, ["row", "col"])
    mm = j.groupBy("bid").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    return j.join(mm, "bid").select(
        "row", "col",
        ((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn"))).alias("value"),
    )


def elev_rel_watershed_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    return f"""
WITH b AS ({basins_oracle_sql(source_sql, grid)}),
dem AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
j AS (SELECT d.row, d.col, d.value, b.basin_id AS bid
      FROM dem d JOIN b ON b.row = d.row AND b.col = d.col),
mm AS (SELECT bid, min(value) AS mn, max(value) AS mx FROM j GROUP BY bid)
SELECT j.row, j.col, (j.value - mm.mn) / (mm.mx - mm.mn) AS value
FROM j JOIN mm ON mm.bid = j.bid
"""


def cost_allocation(
    cost: DataFrame,
    sources: DataFrame,
    grid: GridSpec,
    *,
    max_iterations: int = 10_000,
) -> DataFrame:
    """CostAllocation (gis_analysis/cost_allocation.rs): each cell labeled
    by the source of its least accumulated cost (the same Bellman-Ford
    supersteps as cost_distance, carrying the claiming source id;
    equal-cost ties break to the LOWEST source id — the reference keeps
    its heap's settle order). sources: (row, col, source_id).
    -> (row, col, value = source id); unreachable cells absent."""
    lens = _grid_lengths(grid)
    spark = cost.sparkSession
    offsets = spark.createDataFrame(
        [(D8_DX[i], D8_DY[i], lens[i]) for i in range(8)], "dx int, dy int, len double"
    )
    c = cost.filter(F.col("value").isNotNull()).select(
        "row", "col", F.col("value").alias("cost")
    )
    acc = (
        c.join(
            sources.select("row", "col", F.col("source_id").alias("__sid")),
            ["row", "col"], "left",
        )
        .withColumn("acc", F.when(F.col("__sid").isNotNull(), F.lit(0.0)))
        .withColumn("sid", F.col("__sid").cast("double"))
        .drop("__sid")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        nb = (
            acc.filter(F.col("acc").isNotNull())
            .crossJoin(F.broadcast(offsets))
            .select(
                (F.col("row") + F.col("dy")).alias("row"),
                (F.col("col") + F.col("dx")).alias("col"),
                (F.col("acc") + F.col("cost") * F.lit(0.5) * F.col("len")).alias("half"),
                (F.lit(0.5) * F.col("len")).alias("w"),
                "sid",
            )
        )
        relax = (
            nb.join(acc.select("row", "col", F.col("cost").alias("tcost")), ["row", "col"])
            .select(
                "row", "col", "sid",
                (F.col("half") + F.col("tcost") * F.col("w")).alias("cand"),
            )
            .groupBy("row", "col")
            .agg(F.min(F.struct(F.col("cand"), F.col("sid"))).alias("m"))
            .select("row", "col", F.col("m.cand").alias("cand"), F.col("m.sid").alias("csid"))
        )
        nxt = (
            acc.join(relax, ["row", "col"], "left")
            .withColumn(
                "better",
                F.coalesce(F.col("cand"), F.lit(float("inf")))
                < F.coalesce(F.col("acc"), F.lit(float("inf"))),
            )
            .withColumn(
                "tie_lower",
                F.col("cand").isNotNull() & F.col("acc").isNotNull()
                & (F.col("cand") == F.col("acc")) & (F.col("csid") < F.col("sid")),
            )
        )
        changed = nxt.filter(F.col("better") | F.col("tie_lower")).limit(1).isEmpty()
        acc = nxt.select(
            "row", "col", "cost",
            F.when(F.col("better"), F.col("cand")).otherwise(F.col("acc")).alias("acc"),
            F.when(F.col("better") | F.col("tie_lower"), F.col("csid"))
            .otherwise(F.col("sid")).alias("sid"),
        ).transform(loop_checkpoint)
        if changed:
            break
    return acc.filter(F.col("sid").isNotNull()).select(
        "row", "col", F.col("sid").alias("value")
    )


def trace_downslope_flowpaths(
    cells: DataFrame, grid: GridSpec, seeds: DataFrame, *, max_iterations: int = 10_000
) -> DataFrame:
    """TraceDownslopeFlowpaths (hydro_analysis/trace_downslope_flowpaths
    .rs:365-390): per cell, how many seed flow paths pass through it
    (each seed walks its D8 path; the reference increments per visit).
    Same topological peel as flow accumulation with seed-indicator initial
    mass. seeds: (row, col). -> (row, col, value) for visited cells."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    acc = (
        cells.filter(F.col("value").isNotNull())
        .select("row", "col")
        .join(seeds.select("row", "col").withColumn("__s", F.lit(1)), ["row", "col"], "left")
        .select(
            "row", "col",
            F.when(F.col("__s").isNotNull(), F.lit(1.0)).otherwise(F.lit(0.0)).alias("fa"),
        )
        .localCheckpoint(eager=True)
    )
    edges = _flow_edges(cells, grid).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        if edges.isEmpty():
            break
        targets = edges.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct()
        src_edges = edges.join(targets, ["row", "col"], "left_anti")
        pushed = (
            src_edges.join(acc, ["row", "col"])
            .groupBy(F.col("trow").alias("row"), F.col("tcol").alias("col"))
            .agg(F.sum("fa").alias("inflow"))
        )
        acc = (
            acc.join(pushed, ["row", "col"], "left")
            .withColumn("fa", F.col("fa") + F.coalesce(F.col("inflow"), F.lit(0.0)))
            .drop("inflow")
            .transform(loop_checkpoint)
        )
        edges = edges.join(
            src_edges.select("row", "col"), ["row", "col"], "left_anti"
        ).transform(loop_checkpoint)
    return acc.filter(F.col("fa") > 0.0).select("row", "col", F.col("fa").alias("value"))


def trace_flowpaths_oracle_sql(source_sql: str, grid: GridSpec, seeds: list) -> str:
    """seeds: [(row, col), ...] literal seed cells."""
    vals = ", ".join(f"({r}, {c})" for r, c in seeds)
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
seeds(srow, scol) AS (VALUES {vals}),
walk(orow, ocol, row, col) AS (
  SELECT srow, scol, srow, scol FROM seeds
  JOIN cells ON cells.row = seeds.srow AND cells.col = seeds.scol
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol
  FROM walk w JOIN fd f ON f.row = w.row AND f.col = w.col
)
SELECT row, col, CAST(count(*) AS DOUBLE) AS value
FROM walk GROUP BY row, col
"""


def average_flowpath_slope(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """AverageFlowpathSlope (hydro_analysis/average_flowpath_slope.rs:
    320-405): per cell, degrees(atan((mean upslope-divide elevation - z)
    / mean flowpath length)), where the three upslope accumulations are
      num(c)   = # divide cells (in-degree 0) whose paths pass through c,
      elev(c)  = sum of their elevations,
      len(c)   = sum of gridlen over every upstream EDGE (the reference
                 adds each edge once per child push, not once per path —
                 mirrored exactly).
    Divide cells themselves evaluate 0/0 -> NULL (reference NaN).
    All three run on flow_stitch.solve_fa, so the whole tool is
    O(log n) supersteps at scale."""
    from whitebox_tools_spark.operators.flow_stitch import solve_fa

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    edges = _flow_edges(cells, grid)
    lens = _grid_lengths(grid)
    dlen = F.coalesce(
        *[
            F.when(
                (F.col("trow") - F.col("row") == D8_DY[i])
                & (F.col("tcol") - F.col("col") == D8_DX[i]),
                F.lit(lens[i]),
            )
            for i in range(8)
        ]
    )
    base = src.join(edges, ["row", "col"], "left")
    # divide cells: no inflowing edge
    targets = edges.select(
        F.col("trow").alias("row"), F.col("tcol").alias("col")
    ).distinct()
    divides = src.join(targets, ["row", "col"], "left_anti").select(
        "row", "col", F.lit(1.0).alias("is_div")
    )
    seeded = base.join(divides, ["row", "col"], "left")

    def acc(wcol):
        nodes = seeded.select(
            "row", "col", wcol.alias("w"),
            F.col("trow").alias("nrow"), F.col("tcol").alias("ncol"),
        )
        return solve_fa(nodes)

    num = acc(F.coalesce(F.col("is_div"), F.lit(0.0))).withColumnRenamed("fa", "num")
    elev = acc(
        F.when(F.col("is_div").isNotNull(), F.col("value")).otherwise(F.lit(0.0))
    ).withColumnRenamed("fa", "esum")
    tlen = acc(F.coalesce(dlen, F.lit(0.0))).withColumnRenamed("fa", "lsum_raw")
    out = (
        src.join(num, ["row", "col"])
        .join(elev, ["row", "col"])
        .join(tlen, ["row", "col"])
        .join(base.select("row", "col", dlen.alias("own_len")), ["row", "col"])
    )
    # lsum_raw counts the cell's own out-edge too; the reference's total at
    # c covers only edges strictly upstream
    lsum = F.col("lsum_raw") - F.coalesce(F.col("own_len"), F.lit(0.0))
    z_mean = F.col("esum") / F.col("num")
    val = F.degrees(F.atan((z_mean - F.col("value")) / (lsum / F.col("num"))))
    return out.select(
        "row", "col",
        F.when(lsum > 0.0, val).alias("value"),
    )


def average_flowpath_slope_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
walk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol
  FROM walk w JOIN fd f ON f.row = w.row AND f.col = w.col
),
targets AS (SELECT DISTINCT trow AS row, tcol AS col FROM fd),
divides AS (
  SELECT c.row, c.col, c.value FROM cells c
  ANTI JOIN targets t ON t.row = c.row AND t.col = c.col
),
upacc AS (
  SELECT w.row, w.col,
         SUM(CASE WHEN d.row IS NOT NULL THEN 1.0 ELSE 0.0 END) AS num,
         SUM(CASE WHEN d.row IS NOT NULL THEN d.value ELSE 0.0 END) AS esum,
         SUM(CASE WHEN NOT (w.orow = w.row AND w.ocol = w.col)
                  THEN coalesce(el.len, 0.0) ELSE 0.0 END) AS lsum
  FROM walk w
  LEFT JOIN divides d ON d.row = w.orow AND d.col = w.ocol
  LEFT JOIN (
    SELECT f.row, f.col, dd.len FROM fd f JOIN dirs dd ON dd.i = f.i
  ) el ON el.row = w.orow AND el.col = w.ocol
  GROUP BY w.row, w.col
)
SELECT c.row, c.col,
       CASE WHEN u.lsum > 0.0
            THEN degrees(atan((u.esum / u.num - c.value) / (u.lsum / u.num)))
            END AS value
FROM cells c JOIN upacc u ON u.row = c.row AND u.col = c.col
"""


def rho8_pointer(
    cells: DataFrame, grid: GridSpec, *, seed: int = 7, esri_style: bool = False
) -> DataFrame:
    """Rho8Pointer (hydro_analysis/rho8_pointer.rs:255-290, Fairfield &
    Leymarie 1991): like D8 but diagonal slopes are divided by
    (2 - U(0,1)), randomizing diagonal preference. The reference uses an
    unseeded thread RNG; this engine derives the uniform from the repo's
    deterministic minstd hash stream keyed by (cell, direction) so both
    engines reproduce the same field (documented deviation: seeded).
    -> (row, col, pointer)."""
    from whitebox_tools_spark.operators.random import _hash_u_expr

    out_vals = [128, 1, 2, 4, 8, 16, 32, 64] if esri_style else [1, 2, 4, 8, 16, 32, 64, 128]
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offsets = spark.createDataFrame(
        [(i, D8_DX[i], D8_DY[i]) for i in range(8)], "i int, dx int, dy int"
    )
    scattered = (
        src.crossJoin(F.broadcast(offsets))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "i",
            F.col("value").alias("zn"),
        )
        .groupBy("row", "col")
        .agg(*[F.max(F.when(F.col("i") == i, F.col("zn"))).alias(f"_n{i}") for i in range(8)])
    )
    g = src.join(scattered, ["row", "col"], "left")
    key = F.col("row") * F.lit(1 << 20) + F.col("col")
    entries = []
    for i in range(8):
        drop = F.col("value") - F.col(f"_n{i}")
        if i % 2 == 1:  # cardinal slots (1,3,5,7 in the reference's order)
            slope = drop
        else:
            u = _hash_u_expr(key * 8 + F.lit(i), seed, 2)
            slope = drop / (F.lit(2.0) - u)
        entries.append(
            F.when(
                F.col(f"_n{i}").isNotNull() & (slope > 0.0),
                F.struct(slope.alias("slope"), F.lit(-i).alias("negi")),
            )
        )
    best = F.array_max(F.array_compact(F.array(*entries)))
    d = -best["negi"]
    ptr = F.coalesce(
        *[F.when(d == i, F.lit(out_vals[i])) for i in range(8)], F.lit(0)
    )
    return g.select("row", "col", ptr.cast("long").alias("pointer"))


def rho8_pointer_oracle_sql(
    source_sql: str, grid: GridSpec, *, seed: int = 7
) -> str:
    from whitebox_tools_spark.operators.random import _hash_u_sql

    lens = _grid_lengths(grid)
    out_vals = [1, 2, 4, 8, 16, 32, 64, 128]
    arms = []
    for i in range(8):
        dxi, dyi = D8_DX[i], D8_DY[i]
        drop = f"(c.value - n{i}.value)"
        if i % 2 == 1:
            slope = drop
        else:
            u = _hash_u_sql(f"(c.row * {1 << 20} + c.col) * 8 + {i}", seed, 2)
            slope = f"({drop} / (2.0 - {u}))"
        arms.append(
            f"CASE WHEN n{i}.value IS NOT NULL AND {slope} > 0.0 "
            f"THEN struct_pack(slope := {slope}, negi := {-i}) END"
        )
    joins = "\n".join(
        f"LEFT JOIN cells n{i} ON n{i}.row = c.row + {D8_DY[i]} AND n{i}.col = c.col + {D8_DX[i]}"
        for i in range(8)
    )
    ptr_case = " ".join(
        f"WHEN (best).negi = {-i} THEN {out_vals[i]}" for i in range(8)
    )
    return f"""
WITH cells AS MATERIALIZED (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
j AS (
  SELECT c.row, c.col,
         list_max(list_filter([{", ".join(arms)}], x -> x IS NOT NULL)) AS best
  FROM cells c
{joins}
)
SELECT row, col,
       CAST(CASE WHEN best IS NULL THEN 0 {ptr_case} ELSE 0 END AS BIGINT) AS pointer
FROM j
"""


_D8_DX2 = [2, 2, 2, 2, 2, 1, 0, -1, -2, -2, -2, -2, -2, -1, 0, 1]
_D8_DY2 = [-2, -1, 0, 1, 2, 2, 2, 2, 2, 1, 0, -1, -2, -2, -2, -2]
_BREACHCELL = [0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 0]


def breach_single_cell_pits(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """BreachSingleCellPits (hydro_analysis/breach_pits.rs:199-235): for
    every pit (no lower 8-neighbor), each ring-2 cell lower than the pit
    breaches the intervening ring-1 cell to (z_pit + z_ring2)/2. The
    reference's last-write-in-scan-order conflict rule is mirrored with a
    (pit row, pit col, ring index) argmax."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offsets = spark.createDataFrame(
        [(i, D8_DX[i], D8_DY[i]) for i in range(8)], "i int, dx int, dy int"
    )
    nb_min = (
        src.crossJoin(F.broadcast(offsets))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            F.col("value").alias("zn"),
        )
        .groupBy("row", "col")
        .agg(F.min("zn").alias("min_nb"))
    )
    pits = (
        src.join(nb_min, ["row", "col"], "left")
        .filter(F.col("min_nb").isNull() | (F.col("min_nb") >= F.col("value")))
        .select(F.col("row").alias("prow"), F.col("col").alias("pcol"),
                F.col("value").alias("pz"))
    )
    ring2 = spark.createDataFrame(
        [
            (i, _D8_DX2[i], _D8_DY2[i], D8_DX[_BREACHCELL[i]], D8_DY[_BREACHCELL[i]])
            for i in range(16)
        ],
        "i int, dx2 int, dy2 int, bdx int, bdy int",
    )
    z2 = src.select(
        F.col("row").alias("r2"), F.col("col").alias("c2"), F.col("value").alias("z2")
    )
    writes = (
        pits.crossJoin(F.broadcast(ring2))
        .join(
            z2,
            (F.col("r2") == F.col("prow") + F.col("dy2"))
            & (F.col("c2") == F.col("pcol") + F.col("dx2")),
        )
        .filter(F.col("z2") < F.col("pz"))
        .select(
            (F.col("prow") + F.col("bdy")).alias("row"),
            (F.col("pcol") + F.col("bdx")).alias("col"),
            F.struct(
                F.col("prow").alias("pr"), F.col("pcol").alias("pc"),
                F.col("i").alias("i"),
                ((F.col("pz") + F.col("z2")) / 2.0).alias("v"),
            ).alias("w"),
        )
        .groupBy("row", "col")
        .agg(F.max("w").alias("w"))
        .select("row", "col", F.col("w.v").alias("bv"))
    )
    return src.join(writes, ["row", "col"], "left").select(
        "row", "col", F.coalesce(F.col("bv"), F.col("value")).alias("value")
    )


def breach_single_cell_pits_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    ring2 = ", ".join(
        f"({i},{_D8_DX2[i]},{_D8_DY2[i]},{D8_DX[_BREACHCELL[i]]},{D8_DY[_BREACHCELL[i]]})"
        for i in range(16)
    )
    nbrs = ", ".join(f"({D8_DX[i]},{D8_DY[i]})" for i in range(8))
    return f"""
WITH cells AS MATERIALIZED (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
pits AS (
  SELECT c.row AS prow, c.col AS pcol, c.value AS pz
  FROM cells c
  LEFT JOIN (
    SELECT a.row, a.col, min(b.value) AS min_nb
    FROM cells a
    CROSS JOIN (VALUES {nbrs}) o(dx, dy)
    JOIN cells b ON b.row = a.row + o.dy AND b.col = a.col + o.dx
    GROUP BY a.row, a.col
  ) nb ON nb.row = c.row AND nb.col = c.col
  WHERE nb.min_nb IS NULL OR nb.min_nb >= c.value
),
writes AS (
  SELECT p.prow + r.bdy AS row, p.pcol + r.bdx AS col,
         max(struct_pack(pr := p.prow, pc := p.pcol, i := r.i,
                         v := (p.pz + z2.value) / 2.0)) AS w
  FROM pits p
  CROSS JOIN (VALUES {ring2}) r(i, dx2, dy2, bdx, bdy)
  JOIN cells z2 ON z2.row = p.prow + r.dy2 AND z2.col = p.pcol + r.dx2
  WHERE z2.value < p.pz
  GROUP BY 1, 2
)
SELECT c.row, c.col, coalesce((w.w).v, c.value) AS value
FROM cells c LEFT JOIN writes w ON w.row = c.row AND w.col = c.col
"""


def downslope_index(
    cells: DataFrame,
    grid: GridSpec,
    *,
    drop: float = 2.0,
    out_type: str = "tangent",
    max_iterations: int = 1000,
) -> DataFrame:
    """DownslopeIndex (terrain_analysis/downslope_index.rs, Hjerdt et al.
    2004): walk each cell's D8 flowpath until the cumulative elevation
    drop reaches `drop` (linear interpolation inside the final step);
    tangent = drop / distance. Paths that end earlier use the actual drop
    observed. Superstep rounds are bounded by the number of cells needed
    to fall `drop` meters — a local property of the drop parameter, not
    the DEM size."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    edges = _edge_drops(cells, grid).localCheckpoint(eager=True)
    state = src.select(
        F.col("row").alias("orow"), F.col("col").alias("ocol"),
        F.col("row"), F.col("col"),
        F.lit(0.0).alias("dist"), F.lit(0.0).alias("dropped"),
        F.col("value").alias("z0"),
    ).localCheckpoint(eager=True)
    resolved = None
    for _ in range(max_iterations):
        step = state.join(edges, ["row", "col"], "left")
        # terminal: no out-edge -> resolve with actual drop
        term = step.filter(F.col("trow").isNull()).select(
            "orow", "ocol", "dist", F.col("dropped").alias("eff_drop")
        )
        adv = step.filter(F.col("trow").isNotNull())
        new_drop = F.col("dropped") + F.col("dz")
        crossing = adv.filter(new_drop >= F.lit(drop)).select(
            "orow", "ocol",
            (
                F.col("dist")
                + F.when(
                    F.col("dz") > 0.0,
                    (F.lit(drop) - F.col("dropped")) / F.col("dz") * F.col("len"),
                ).otherwise(F.col("len"))
            ).alias("dist"),
            F.lit(drop).alias("eff_drop"),
        )
        done = term.unionByName(crossing)
        resolved = done if resolved is None else resolved.unionByName(done)
        resolved = loop_checkpoint(resolved)
        state = (
            adv.filter(new_drop < F.lit(drop))
            .select(
                "orow", "ocol",
                F.col("trow").alias("row"), F.col("tcol").alias("col"),
                (F.col("dist") + F.col("len")).alias("dist"),
                new_drop.alias("dropped"),
                "z0",
            )
            .transform(loop_checkpoint)
        )
        if state.isEmpty():
            break
    tan = F.col("eff_drop") / F.col("dist")
    val = {
        "tangent": tan,
        "degrees": F.degrees(F.atan(tan)),
        "radians": F.atan(tan),
        "distance": F.col("dist"),
    }[out_type]
    return resolved.select(
        F.col("orow").alias("row"), F.col("ocol").alias("col"),
        F.when(F.col("dist") > 0.0, val).alias("value"),
    )


def _edge_drops(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """(row, col, trow, tcol, len, dz): the D8 edge with its grid length
    and elevation drop."""
    lens = _grid_lengths(grid)
    edges = _flow_edges(cells, grid)
    z = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    tz = z.select(
        F.col("row").alias("trow"), F.col("col").alias("tcol"),
        F.col("value").alias("tzv"),
    )
    dircase = F.coalesce(
        *[
            F.when(
                (F.col("trow") - F.col("row") == D8_DY[i])
                & (F.col("tcol") - F.col("col") == D8_DX[i]),
                F.lit(lens[i]),
            )
            for i in range(8)
        ]
    )
    return (
        edges.join(z, ["row", "col"])
        .join(tz, ["trow", "tcol"])
        .select(
            "row", "col", "trow", "tcol",
            dircase.alias("len"),
            (F.col("value") - F.col("tzv")).alias("dz"),
        )
    )


def downslope_index_oracle_sql(
    source_sql: str, grid: GridSpec, *, drop: float = 2.0, out_type: str = "tangent"
) -> str:
    val = {
        "tangent": "eff_drop / dist",
        "degrees": "degrees(atan(eff_drop / dist))",
        "radians": "atan(eff_drop / dist)",
        "distance": "dist",
    }[out_type]
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
ed AS (
  SELECT f.row, f.col, f.trow, f.tcol, d.len,
         c1.value - c2.value AS dz
  FROM fd f
  JOIN dirs d ON d.i = f.i
  JOIN cells c1 ON c1.row = f.row AND c1.col = f.col
  JOIN cells c2 ON c2.row = f.trow AND c2.col = f.tcol
),
walk(orow, ocol, row, col, dist, dropped, steps) AS (
  SELECT row, col, row, col, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), 0
  FROM cells
  UNION
  SELECT w.orow, w.ocol, e.trow, e.tcol, w.dist + e.len, w.dropped + e.dz, w.steps + 1
  FROM walk w JOIN ed e ON e.row = w.row AND e.col = w.col
  WHERE w.dropped + e.dz < {float(drop)!r}
),
-- resolution: the step out of the deepest surviving walk row
last_step AS (
  SELECT orow, ocol, row, col, dist, dropped
  FROM (
    SELECT *, row_number() OVER (PARTITION BY orow, ocol ORDER BY steps DESC) AS rn
    FROM walk
  ) WHERE rn = 1
),
res AS (
  SELECT l.orow, l.ocol,
         CASE WHEN e.trow IS NULL THEN l.dist
              WHEN e.dz > 0.0 THEN l.dist + ({float(drop)!r} - l.dropped) / e.dz * e.len
              ELSE l.dist + e.len END AS dist,
         CASE WHEN e.trow IS NULL THEN l.dropped ELSE {float(drop)!r} END AS eff_drop
  FROM last_step l
  LEFT JOIN ed e ON e.row = l.row AND e.col = l.col
)
SELECT orow AS row, ocol AS col,
       CASE WHEN dist > 0.0 THEN {val} END AS value
FROM res
"""


def stochastic_depression_analysis(
    cells: DataFrame, *, rmse: float = 1.0, n_iterations: int = 5,
    seed: int = 11, block: int = 256,
) -> DataFrame:
    """StochasticDepressionAnalysis (hydro_analysis/
    stochastic_depression_analysis.rs, Lindsay & Creed 2005 'pdep'):
    probability a cell belongs to a depression over Monte-Carlo DEM
    realizations (dem + gaussian error, sigma = rmse). The reference draws
    unseeded histogram-matched autocorrelated error fields; this engine
    uses the repo's deterministic minstd Box-Muller hash normals
    (documented deviation: white seeded noise), so both engines reproduce
    the field exactly. Each realization fills with the Barnes tile stitch.
    -> (row, col, value = pdep)."""
    import math

    from whitebox_tools_spark.operators.flow_stitch import fill_depressions_tiled
    from whitebox_tools_spark.operators.random import _hash_u_expr

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    acc = None
    key = F.col("row") * F.lit(1 << 20) + F.col("col")
    for i in range(n_iterations):
        u1 = _hash_u_expr(key * n_iterations + F.lit(i), seed, 2)
        u2 = _hash_u_expr(key * n_iterations + F.lit(i), seed, 3)
        err = (
            F.sqrt(F.lit(-2.0) * F.log(u1))
            * F.cos(F.lit(2.0 * math.pi) * u2) * F.lit(rmse)
        )
        dem_i = src.select("row", "col", (F.col("value") + err).alias("value"))
        filled = fill_depressions_tiled(dem_i, block=block).select(
            "row", "col", F.col("value").alias("w")
        )
        dep = dem_i.join(filled, ["row", "col"]).select(
            "row", "col",
            F.when(F.col("w") > F.col("value"), 1.0).otherwise(0.0).alias("d"),
        )
        acc = dep if acc is None else acc.unionByName(dep)
    return acc.groupBy("row", "col").agg(
        (F.sum("d") / float(n_iterations)).alias("value")
    )


def stochastic_depression_oracle_sql(
    source_sql: str, *, rmse: float = 1.0, n_iterations: int = 5, seed: int = 11
) -> str:
    import math

    from whitebox_tools_spark.operators.random import _hash_u_sql

    parts = []
    for i in range(n_iterations):
        key = f"(row * {1 << 20} + col) * {n_iterations} + {i}"
        u1 = _hash_u_sql(key, seed, 2)
        u2 = _hash_u_sql(key, seed, 3)
        err = f"(sqrt(-2.0 * ln({u1})) * cos({2.0 * math.pi!r} * ({u2})) * {float(rmse)!r})"
        dem_i = (
            f"SELECT row, col, value + {err} AS value "
            f"FROM ({source_sql}) WHERE value IS NOT NULL"
        )
        parts.append(f"""
SELECT d.row, d.col,
       CASE WHEN f.value > d.value THEN 1.0 ELSE 0.0 END AS d
FROM ({dem_i}) d
JOIN ({fill_depressions_oracle_sql(dem_i)}) f
  ON f.row = d.row AND f.col = d.col""")
    unions = "\nUNION ALL\n".join(parts)
    return f"""
SELECT row, col, SUM(d) / {float(n_iterations)!r} AS value
FROM ({unions}) t GROUP BY row, col
"""


def _dinf_edges(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """(row, col, trow, tcol, frac): the Tarboton two-target split edges
    (shared by DInfFlowAccumulation and DInfMassFlux)."""
    ptr = dinf_pointer(cells, grid).withColumnRenamed("value", "dir").localCheckpoint()
    flows = ptr.filter(F.col("dir") >= 0.0)
    k = F.least(F.floor(F.col("dir") / 45.0).cast("int"), F.lit(7))
    p2 = (F.col("dir") - k.cast("double") * 45.0) / 45.0
    p1 = F.lit(1.0) - p2
    t1row = F.col("row") + F.coalesce(*[F.when(k == i, F.lit(_DINF_DIRS[i][1])) for i in range(8)])
    t1col = F.col("col") + F.coalesce(*[F.when(k == i, F.lit(_DINF_DIRS[i][0])) for i in range(8)])
    k2 = (k + 1) % 8
    t2row = F.col("row") + F.coalesce(*[F.when(k2 == i, F.lit(_DINF_DIRS[i][1])) for i in range(8)])
    t2col = F.col("col") + F.coalesce(*[F.when(k2 == i, F.lit(_DINF_DIRS[i][0])) for i in range(8)])
    e1 = flows.filter(p1 > 0.0).select(
        "row", "col", t1row.alias("trow"), t1col.alias("tcol"), p1.alias("frac")
    )
    e2 = flows.filter(p2 > 0.0).select(
        "row", "col", t2row.alias("trow"), t2col.alias("tcol"), p2.alias("frac")
    )
    edges = e1.unionByName(e2)
    valid = cells.filter(F.col("value").isNotNull()).select(
        F.col("row").alias("trow"), F.col("col").alias("tcol")
    )
    return edges.join(valid, ["trow", "tcol"])


def dinf_mass_flux(
    cells: DataFrame, grid: GridSpec, loading: DataFrame, efficiency: DataFrame,
    absorption: DataFrame, *, max_iterations: int = 10_000,
) -> DataFrame:
    """DInfMassFlux (hydro_analysis/dinf_mass_flux.rs): mass accumulation
    over the Tarboton split — out(c) = load(c) + sum over inflow edges of
    (out(i) - absorption(i)) * efficiency(i) * frac(i). Topological peel
    over the fractional edge set (rows-only: the weighted transitive
    closure enumerates combinatorially many paths; pytest-pinned against
    a serial numpy re-run). -> (row, col, value)."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    aux = (
        loading.select("row", "col", F.col("value").alias("ld"))
        .join(efficiency.select("row", "col", F.col("value").alias("eff")), ["row", "col"])
        .join(absorption.select("row", "col", F.col("value").alias("ab")), ["row", "col"])
    )
    acc = (
        cells.filter(F.col("value").isNotNull())
        .select("row", "col")
        .join(aux, ["row", "col"])
        .select("row", "col", F.col("ld").alias("m"), "eff", "ab")
        .localCheckpoint(eager=True)
    )
    edges = _dinf_edges(cells, grid).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        if edges.isEmpty():
            break
        targets = edges.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct()
        src_edges = edges.join(targets, ["row", "col"], "left_anti")
        pushed = (
            src_edges.join(acc, ["row", "col"])
            .groupBy(F.col("trow").alias("row"), F.col("tcol").alias("col"))
            .agg(F.sum((F.col("m") - F.col("ab")) * F.col("eff") * F.col("frac")).alias("dm"))
        )
        acc = (
            acc.join(pushed, ["row", "col"], "left")
            .withColumn("m", F.col("m") + F.coalesce(F.col("dm"), F.lit(0.0)))
            .drop("dm")
            .transform(loop_checkpoint)
        )
        edges = edges.join(
            src_edges.select("row", "col").distinct(), ["row", "col"], "left_anti"
        ).transform(loop_checkpoint)
    return acc.select("row", "col", F.col("m").alias("value"))


def find_parallel_flow(
    pointers: DataFrame, streams: DataFrame
) -> DataFrame:
    """FindParallelFlow (hydro_analysis/find_parallel_flow.rs:248-280):
    1.0 at stream cells whose D8 pointer matches a neighboring stream
    cell's pointer (excluding the cell's own outflow direction and
    neighbors that flow INTO the cell), else 0.0. Pure 8-neighbor gather.
    pointers: (row, col, pointer); streams: (row, col, value > 0)."""
    spark = pointers.sparkSession
    out_vals = [1, 2, 4, 8, 16, 32, 64, 128]
    in_vals = [16, 32, 64, 128, 1, 2, 4, 8]
    stream_cells = streams.filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    ).select("row", "col")
    p = pointers.join(stream_cells, ["row", "col"], "semi")
    offs = spark.createDataFrame(
        [(i, D8_DX[i], D8_DY[i], out_vals[i], in_vals[i]) for i in range(8)],
        "i int, dx int, dy int, outv long, inv long",
    )
    nb = p.crossJoin(F.broadcast(offs)).select(
        (F.col("row") - F.col("dy")).alias("row"),
        (F.col("col") - F.col("dx")).alias("col"),
        F.col("pointer").alias("zn"),
        "i", "outv", "inv",
    )
    j = p.join(nb, ["row", "col"]).filter(
        (F.col("pointer") != F.col("outv"))
        & (F.col("zn") == F.col("pointer"))
        & (F.col("zn") != F.col("inv"))
    )
    hits = j.select("row", "col").distinct().withColumn("__h", F.lit(1))
    return p.join(hits, ["row", "col"], "left").select(
        "row", "col",
        F.when(F.col("__h").isNotNull(), 1.0).otherwise(0.0).alias("value"),
    )


def find_parallel_flow_oracle_sql(pointer_sql: str, streams_sql: str) -> str:
    out_vals = [1, 2, 4, 8, 16, 32, 64, 128]
    in_vals = [16, 32, 64, 128, 1, 2, 4, 8]
    offs = ", ".join(
        f"({i},{D8_DX[i]},{D8_DY[i]},{out_vals[i]},{in_vals[i]})" for i in range(8)
    )
    return f"""
WITH ptr AS ({pointer_sql}),
sc AS (SELECT row, col FROM ({streams_sql}) t WHERE value IS NOT NULL AND value > 0),
p AS (SELECT ptr.* FROM ptr SEMI JOIN sc ON sc.row = ptr.row AND sc.col = ptr.col),
hits AS (
  SELECT DISTINCT c.row, c.col
  FROM p c
  CROSS JOIN (VALUES {offs}) o(i, dx, dy, outv, inv)
  JOIN p n ON n.row = c.row + o.dy AND n.col = c.col + o.dx
  WHERE c.pointer <> o.outv AND n.pointer = c.pointer AND n.pointer <> o.inv
)
SELECT p.row, p.col,
       CASE WHEN h.row IS NOT NULL THEN 1.0 ELSE 0.0 END AS value
FROM p LEFT JOIN hits h ON h.row = p.row AND h.col = p.col
"""


def isobasins(
    cells: DataFrame, grid: GridSpec, *, size: int, max_iterations: int = 10_000
) -> DataFrame:
    """Isobasins (hydro_analysis/isobasins.rs:392-470): divide the DEM into
    nearly-equal-area watersheds. Topological sweep down the D8 DAG: at a
    cell with residual accumulation fa >= size, cut an outlet — at the
    largest-inflow neighbor when (size - inla) < (fa - size) (residual
    resets to fa - inla), else at the cell itself (residual resets to 1);
    terminals always become outlets. The reference numbers outlets by its
    stack pop order; outlet ids here are raster-scan-order of the outlet
    cells (deterministic, same partition). Cells are then labeled by the
    first outlet cell on their flow path (watershed). -> (row, col, value).

    Distributed topological peel (O(DAG-depth) rounds over a shrinking
    edge set — the cut decision depends on residual inflow values, so it
    is not expressible in the linear-semiring tile stitch; documented
    superstep path like the reference's other order-dependent sweeps)."""
    from whitebox_tools_spark.distributed import loop_checkpoint, with_global_seq
    from whitebox_tools_spark.operators.streams import watershed

    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    edges = _flow_edges(cells, grid).localCheckpoint(eager=True)
    # inflow direction index i of source around its TARGET (reference loop
    # order tie-break: lowest i wins among equal inflow accumulations)
    iexpr = F.coalesce(
        *[
            F.when(
                (F.col("row") - F.col("trow") == D8_DY[i])
                & (F.col("col") - F.col("tcol") == D8_DX[i]),
                F.lit(i),
            )
            for i in range(8)
        ]
    )
    edges = edges.withColumn("i", iexpr)

    contribs = None  # (row, col, i, val): resolved inflow into (row, col)
    outlets = None  # (row, col)
    rem = edges
    spark = cells.sparkSession
    empty_c = spark.createDataFrame([], "row long, col long, i int, val double")
    contribs = empty_c.localCheckpoint(eager=True)
    outlets = spark.createDataFrame([], "row long, col long").localCheckpoint(eager=True)
    remaining = src
    for _ in range(max_iterations):
        if remaining.isEmpty():
            break
        tgt = rem.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct()
        frontier = remaining.join(tgt, ["row", "col"], "left_anti").localCheckpoint(
            eager=True
        )
        fin = (
            frontier.join(contribs, ["row", "col"], "left")
            .groupBy("row", "col")
            .agg(
                (F.lit(1.0) + F.coalesce(F.sum("val"), F.lit(0.0))).alias("fa"),
                F.max_by(
                    F.struct(F.col("val"), F.col("i")),
                    F.when(F.col("val").isNotNull(), F.struct(F.col("val"), -F.col("i"))),
                ).alias("mx"),
            )
            .select(
                "row", "col", "fa",
                F.coalesce(F.col("mx.val"), F.lit(0.0)).alias("inla"),
                F.col("mx.i").alias("inla_i"),
            )
        )
        big = F.col("fa") >= F.lit(float(size))
        # `target_fa - inla_mag` is usize math in the reference: when
        # inla > size it wraps huge and the comparison goes FALSE (self
        # cut) — mirrored by the inla <= size guard
        cut_nbr = big & (
            (F.lit(float(size)) - F.col("inla")) < (F.col("fa") - F.lit(float(size)))
        ) & (F.col("inla") > 0.0) & (F.col("inla") <= F.lit(float(size)))
        cut_self = big & ~cut_nbr
        dec = fin.select(
            "row", "col",
            F.when(cut_nbr, F.col("fa") - F.col("inla"))
            .when(cut_self, F.lit(1.0))
            .otherwise(F.col("fa")).alias("out"),
            cut_nbr.alias("cn"), cut_self.alias("cs"), "inla_i",
        ).localCheckpoint(eager=True)
        # outlet cells: the max-inflow NEIGHBOR for cut_nbr, the cell for cut_self
        o_nbr = dec.filter(F.col("cn")).select(
            (F.col("row") + F.coalesce(*[F.when(F.col("inla_i") == i, F.lit(D8_DY[i])) for i in range(8)])).alias("row"),
            (F.col("col") + F.coalesce(*[F.when(F.col("inla_i") == i, F.lit(D8_DX[i])) for i in range(8)])).alias("col"),
        )
        o_self = dec.filter(F.col("cs")).select("row", "col")
        # terminals (no outgoing edge) always become outlets
        o_term = dec.join(
            edges.select("row", "col"), ["row", "col"], "left_anti"
        ).select("row", "col")
        outlets = (
            outlets.unionByName(o_nbr).unionByName(o_self).unionByName(o_term)
            .distinct().localCheckpoint(eager=True)
        )
        # push each frontier cell's residual to its target
        pushed = dec.join(edges, ["row", "col"]).select(
            F.col("trow").alias("row"), F.col("tcol").alias("col"),
            "i", F.col("out").alias("val"),
        )
        contribs = contribs.unionByName(pushed).transform(loop_checkpoint)
        remaining = remaining.join(frontier, ["row", "col"], "left_anti").transform(
            loop_checkpoint
        )
        rem = rem.join(frontier, ["row", "col"], "left_anti").transform(loop_checkpoint)

    ids = with_global_seq(
        outlets.select((F.col("row") * F.lit(1 << 31) + F.col("col")).alias("t")),
        ["t"], out_col="pour_id",
    )
    pour = outlets.join(
        F.broadcast(ids),
        (F.col("row") * F.lit(1 << 31) + F.col("col")) == F.col("t"),
    ).select("row", "col", "pour_id")
    return watershed(cells, grid, pour).select(
        "row", "col", F.col("pour_id").cast("double").alias("value")
    )


def _cost_edges(cost: DataFrame, grid: GridSpec, width: int):
    """Undirected 8-neighbor cost-surface edges (a, b, w, sid=-1) over
    row-major node ids: each unordered pair emitted once (E/SE/S/SW half
    set), w = cost_a * (len/2) + cost_b * (len/2) — the same association
    as the Bellman-Ford relax, so the two paths agree to the ulp where
    path shapes coincide."""
    lens = _grid_lengths(grid)
    spark = cost.sparkSession
    # D8 index: 0=NE 1=E 2=SE 3=S ... use (dx, dy, len) half set
    half = [(1, 0, lens[1]), (1, 1, lens[2]), (0, 1, lens[3]), (-1, 1, lens[4])]
    offs = F.broadcast(spark.createDataFrame(half, "dx int, dy int, len double"))
    c = cost.filter(F.col("value").isNotNull()).select(
        "row", "col", F.col("value").alias("cost")
    )
    nb = c.crossJoin(offs).select(
        (F.col("row") * width + F.col("col")).alias("a"),
        (F.col("row") + F.col("dy")).alias("nrow"),
        (F.col("col") + F.col("dx")).alias("ncol"),
        (F.col("cost") * (F.col("len") * F.lit(0.5))).alias("wa"),
        (F.col("len") * F.lit(0.5)).alias("hl"),
    )
    return nb.join(
        c.select(F.col("row").alias("nrow"), F.col("col").alias("ncol"),
                 F.col("cost").alias("ncost")),
        ["nrow", "ncol"],
    ).select(
        "a",
        (F.col("nrow") * width + F.col("ncol")).alias("b"),
        (F.col("wa") + F.col("ncost") * F.col("hl")).alias("w"),
        F.lit(-1).cast("long").alias("sid"),
    )


def cost_distance_tiled(
    cost: DataFrame,
    sources: DataFrame,
    grid: GridSpec,
    *,
    block: int = 4096,
    direct_threshold: int = 2_000_000,
) -> DataFrame:
    """CostDistance via the hierarchical boundary-graph Dijkstra
    (flow_stitch.shortest_path_hier) instead of O(least-cost-path-hops)
    Bellman-Ford supersteps: O(log n) rounds of per-block terminal-clique
    contraction; only the sub-threshold root graph touches the driver.
    Same metric and result as cost_distance (pytest: equal to 1e-9 rel —
    segment sums re-associate float adds). -> (row, col, value)."""
    from whitebox_tools_spark.operators.flow_stitch import shortest_path_hier

    c = cost.filter(F.col("value").isNotNull())
    width = int(c.agg(F.max("col")).collect()[0][0]) + 1
    edges = _cost_edges(c, grid, width)
    srcs = (
        sources.select("row", "col")
        .join(c.select("row", "col"), ["row", "col"])
        .select(
            F.lit(-2).cast("long").alias("a"),
            (F.col("row") * width + F.col("col")).alias("b"),
            F.lit(0.0).alias("w"),
            F.lit(0).cast("long").alias("sid"),
        )
    )
    out = shortest_path_hier(
        edges.unionByName(srcs), width,
        block=block, direct_threshold=direct_threshold,
    )
    return out.select(
        F.expr(f"seed DIV {width}").alias("row"),
        (F.col("seed") % width).alias("col"),
        F.col("dist").alias("value"),
    )


def cost_allocation_tiled(
    cost: DataFrame,
    sources: DataFrame,
    grid: GridSpec,
    *,
    block: int = 4096,
    direct_threshold: int = 2_000_000,
) -> DataFrame:
    """CostAllocation on the same hierarchical solver: source ids ride the
    lexicographic (dist, sid) semiring, so equal-cost ties break to the
    LOWEST source id exactly like cost_allocation's superstep rule.
    sources: (row, col, source_id) -> (row, col, value = source id)."""
    from whitebox_tools_spark.operators.flow_stitch import shortest_path_hier

    c = cost.filter(F.col("value").isNotNull())
    width = int(c.agg(F.max("col")).collect()[0][0]) + 1
    edges = _cost_edges(c, grid, width)
    srcs = (
        sources.select("row", "col", "source_id")
        .join(c.select("row", "col"), ["row", "col"])
        .select(
            F.lit(-2).cast("long").alias("a"),
            (F.col("row") * width + F.col("col")).alias("b"),
            F.lit(0.0).alias("w"),
            F.col("source_id").cast("long").alias("sid"),
        )
    )
    out = shortest_path_hier(
        edges.unionByName(srcs), width,
        block=block, direct_threshold=direct_threshold,
    )
    return out.select(
        F.expr(f"seed DIV {width}").alias("row"),
        (F.col("seed") % width).alias("col"),
        F.col("sid").cast("double").alias("value"),
    )


def flood_order(cells: DataFrame, *, block: int = 256) -> DataFrame:
    """FloodOrder (hydro_analysis/flood_order.rs:244-340, Wang-Liu 2006):
    the sequential pop order of the priority-flood fill, 1..n from the
    lowest edge cell upward. Priority-flood pops are globally
    NON-DECREASING in filled elevation (each push is raised to the popping
    cell's level), so the order is exactly the rank of cells sorted by
    (filled elevation W, tie). The reference's tie order is its
    BinaryHeap's (unspecified); this engine's documented tie rule is
    (W, row, col). -> (row, col, value = order). One O(log n) tiled fill
    + one range-partitioned distributed rank (with_global_seq — no
    single-partition window) — no sequential flood needed."""
    from whitebox_tools_spark.distributed import with_global_seq
    from whitebox_tools_spark.operators.flow_stitch import fill_depressions_tiled

    filled = fill_depressions_tiled(cells, block=block)
    return with_global_seq(
        filled.select(F.col("value").alias("__w"), "row", "col"),
        ["__w", "row", "col"],
        out_col="__ord",
    ).select("row", "col", F.col("__ord").cast("double").alias("value"))


def flood_order_oracle_sql(source_sql: str) -> str:
    """Rank over the recursive-CTE minimax fill, same tie rule."""
    return f"""
WITH RECURSIVE cells AS MATERIALIZED (
  SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL
),
adj AS MATERIALIZED (
  SELECT a.row AS ur, a.col AS uc, b.row AS vr, b.col AS vc, b.value AS vz
  FROM cells a JOIN cells b
    ON abs(b.row - a.row) <= 1 AND abs(b.col - a.col) <= 1
   AND NOT (b.row = a.row AND b.col = a.col)
),
bounds AS (SELECT min(row) AS r0, max(row) AS r1, min(col) AS c0, max(col) AS c1 FROM cells),
deg AS (SELECT ur AS row, uc AS col, count(*) AS n FROM adj GROUP BY 1, 2),
outlets AS (
  SELECT c.row, c.col, c.value
  FROM cells c CROSS JOIN bounds b
  LEFT JOIN deg d ON d.row = c.row AND d.col = c.col
  WHERE c.row = b.r0 OR c.row = b.r1 OR c.col = b.c0 OR c.col = b.c1
     OR coalesce(d.n, 0) < 8
),
f(row, col, w) AS (
  SELECT row, col, value FROM outlets
  UNION
  SELECT e.vr, e.vc, greatest(e.vz, f.w)
  FROM f JOIN adj e ON e.ur = f.row AND e.uc = f.col
),
wtab AS (SELECT row, col, min(w) AS w FROM f GROUP BY 1, 2)
SELECT row, col,
       CAST(row_number() OVER (ORDER BY w, row, col) AS DOUBLE) AS value
FROM wtab
"""


def upslope_depression_storage(
    cells: DataFrame,
    grid: GridSpec,
    *,
    exponent: float = 1.1,
    block: int = 256,
    direct_threshold: int = 200_000,
    flat_increment: float | None = None,
) -> DataFrame:
    """UpslopeDepressionStorage (hydro_analysis/
    upslope_depression_storage.rs:240-560): average upslope depression
    storage depth = FD8-accumulated depression depth / FD8-accumulated
    upslope cell count, both over the EPSILON-filled surface (depth =
    filled - original z). The reference epsilon-fills with a Wang-Liu
    in-place flood (z + small_num per step, small_num = 10^-(9 - digits));
    this engine's deterministic equivalent is
    filled_eps = flat_fill_W + small_num * plateau_BFS_hops-to-pour —
    the same ramp, heap-order-free. FD8 weights are f64 (the reference
    degrades to f32). O(log n) rounds throughout (tiled fill, plateau BFS
    bounded by flat diameter, weighted-semiring accumulation stitch).
    -> (row, col, value)."""
    from whitebox_tools_spark.operators.breach import plateau_hops
    from whitebox_tools_spark.operators.flow_stitch import (
        fill_depressions_tiled,
        solve_wfa,
    )

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    if flat_increment is None:
        mx = src.agg(F.max("value")).collect()[0][0]
        s = 1.0 / (10.0 ** (9 - len(str(int(float(mx))))))
    else:
        s = float(flat_increment)
    w = fill_depressions_tiled(src, block=block).localCheckpoint(eager=True)
    hops = plateau_hops(w)
    eps = (
        w.join(hops, ["row", "col"])
        .select(
            "row", "col",
            (F.col("value") + F.lit(s) * F.col("hops").cast("double")).alias("value"),
        )
        .localCheckpoint(eager=True)
    )
    depth = eps.alias("e").join(src.alias("s"), ["row", "col"]).select(
        "row", "col", (F.col("e.value") - F.col("s.value")).alias("w")
    )
    edges = fd8_edges(eps, grid, exponent=exponent, weight="drop")
    acc_d = solve_wfa(depth, edges, block=block, direct_threshold=direct_threshold)
    ones = eps.select("row", "col", F.lit(1.0).alias("w"))
    acc_n = solve_wfa(ones, edges, block=block, direct_threshold=direct_threshold)
    return (
        acc_d.select("row", "col", F.col("fa").alias("d"))
        .join(acc_n.select("row", "col", F.col("fa").alias("n")), ["row", "col"])
        .select("row", "col", (F.col("d") / F.col("n")).alias("value"))
    )


# MDInf neighbor order (mdinf_flow_accum.rs:392-401): N, NW, W, SW, S, SE,
# E, NE — counterclockwise from north; NOT the D8 order.
_MDINF_XD = [0, -1, -1, -1, 0, 1, 1, 1]
_MDINF_YD = [-1, -1, 0, 1, 1, 1, 0, -1]
_MDINF_DD = [1.0, math.sqrt(2.0), 1.0, math.sqrt(2.0),
             1.0, math.sqrt(2.0), 1.0, math.sqrt(2.0)]


def mdinf_edges(
    cells: DataFrame, grid: GridSpec, *, exponent: float = 1.1
) -> DataFrame:
    """MD-infinity fractional flow edges (hydro_analysis/
    mdinf_flow_accum.rs:420-590, Seibert & McGlynn 2007): per triangular
    facet, the normal-derived downslope direction/slope (clamped to the
    facet's cardinal edges when it falls outside), the valley-angle
    validity rules, slope^exponent weighting, and the angular split of
    each facet's share between its two bounding neighbors. Weights to
    non-downslope neighbors are dropped (the reference discards them,
    mdinf_flow_accum.rs:588-600). Documented deviation: the reference's
    r_facet array is NOT reset between cells (stale values leak into the
    valley rules in raster-scan order); this engine treats uncomputed
    facets as r = 0 per cell. -> (row, col, trow, tcol, frac)."""
    import pandas as pd

    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    offs = spark.createDataFrame(
        [(i, _MDINF_XD[i], _MDINF_YD[i]) for i in range(8)], "i int, dx int, dy int"
    )
    sc = (
        src.crossJoin(F.broadcast(offs))
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "i",
            F.col("value").alias("nz"),
        )
        .groupBy("row", "col")
        .agg(*[F.max(F.when(F.col("i") == i, F.col("nz"))).alias(f"p{i}")
               for i in range(8)])
    )
    g = src.join(sc, ["row", "col"], "left")
    gr = (grid.res_x + grid.res_y) / 2.0
    qpi = math.pi / 4.0
    expo = float(exponent)
    xd, yd, dd = _MDINF_XD, _MDINF_YD, _MDINF_DD

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            Z = pdf["value"].to_numpy(np.float64)
            P = np.stack([
                pdf[f"p{i}"].to_numpy(np.float64) for i in range(8)
            ])
            nanP = np.isnan(P)
            downslope = (~nanP) & (P < Z)
            r = np.zeros((8, n))
            s = np.zeros((8, n))
            valid = np.zeros((8, n), bool)
            with np.errstate(invalid="ignore", divide="ignore"):
                for c in range(8):
                    i, ii = c, (c + 1) % 8
                    p1, p2 = P[i], P[ii]
                    both = (~nanP[i]) & (~nanP[ii])
                    z1, z2 = p1 - Z, p2 - Z
                    nx = (yd[i] * z2 - yd[ii] * z1) * gr
                    ny = (xd[ii] * z1 - xd[i] * z2) * gr
                    nzv = float(xd[i] * yd[ii] - xd[ii] * yd[i]) * gr * gr
                    hr = np.where(
                        nx == 0.0,
                        np.where(ny >= 0.0, 0.0, math.pi),
                        np.where(nx >= 0.0,
                                 math.pi / 2.0 - np.arctan(ny / nx),
                                 3.0 * math.pi / 2.0 - np.arctan(ny / nx)),
                    )
                    hs = -np.tan(np.arccos(
                        nzv / np.sqrt(nx * nx + ny * ny + nzv * nzv)))
                    outside = (hr < i * qpi) | (hr > (i + 1) * qpi)
                    use1 = p1 < p2
                    hr = np.where(both & outside,
                                  np.where(use1, i * qpi, ii * qpi), hr)
                    hs = np.where(
                        both & outside,
                        np.where(use1, (Z - p1) / (dd[i] * gr),
                                 (Z - p2) / (dd[ii] * gr)),
                        hs,
                    )
                    only1 = (~nanP[i]) & nanP[ii] & (P[i] < Z)
                    # reference quirk: the single-neighbor fallback divides
                    # by dd[ii], not dd[i] (mdinf_flow_accum.rs:503)
                    hr = np.where(only1, (i / 4.0) * math.pi, hr)
                    hs = np.where(only1, (Z - p1) / (dd[ii] * gr), hs)
                    v = both | only1
                    valid[c] = v
                    r[c] = np.where(v, hr, 0.0)
                    s[c] = np.where(v, hs, 0.0)
            valley = np.zeros((8, n))
            for i in range(8):
                ii, im = (i + 1) % 8, (i + 7) % 8
                pos = valid[i] & (s[i] > 0.0)
                inside = (r[i] > i * qpi) & (r[i] < (i + 1) * qpi)
                same = r[i] == r[ii]
                brd1 = (~valid[ii]) & (r[i] == (i + 1) * qpi)
                brd2 = (~valid[im]) & (r[i] == i * qpi)
                valley[i] = np.where(pos & (inside | same | brd1 | brd2), s[i], 0.0)
            if expo != 1.0:
                valley = np.power(valley, expo)
            vsum = valley.sum(axis=0)
            ok = vsum > 0.0
            with np.errstate(invalid="ignore", divide="ignore"):
                valley = np.where(ok, valley / vsum, 0.0)
            r7 = np.where(r[7] == 0.0, 2.0 * math.pi, r[7])
            r = np.concatenate([r[:7], r7[None, :]], axis=0)
            w = np.zeros((8, n))
            for i in range(8):
                ii = (i + 1) % 8
                contrib = valley[i] > 0.0
                w[i] += np.where(contrib,
                                 valley[i] * (((i + 1) * qpi - r[i]) / qpi), 0.0)
                w[ii] += np.where(contrib,
                                  valley[i] * ((r[i] - i * qpi) / qpi), 0.0)
            rows = pdf["row"].to_numpy(np.int64)
            cols = pdf["col"].to_numpy(np.int64)
            out_r, out_c, out_tr, out_tc, out_f = [], [], [], [], []
            for i in range(8):
                m = downslope[i] & (w[i] > 0.0)
                if m.any():
                    out_r.append(rows[m]); out_c.append(cols[m])
                    out_tr.append(rows[m] + yd[i]); out_tc.append(cols[m] + xd[i])
                    out_f.append(w[i][m])
            if out_r:
                yield pd.DataFrame({
                    "row": np.concatenate(out_r), "col": np.concatenate(out_c),
                    "trow": np.concatenate(out_tr), "tcol": np.concatenate(out_tc),
                    "frac": np.concatenate(out_f),
                })

    edges = g.mapInPandas(
        kernel, schema="row long, col long, trow long, tcol long, frac double"
    )
    valid_t = src.select(F.col("row").alias("trow"), F.col("col").alias("tcol"))
    return edges.join(valid_t, ["trow", "tcol"])


def mdinf_flow_accumulation(
    cells: DataFrame, grid: GridSpec, *, exponent: float = 1.1,
    block: int = 256, direct_threshold: int = 200_000,
) -> DataFrame:
    """MDInfFlowAccumulation: mdinf_edges + the weighted-semiring tile
    stitch (O(log n) rounds). -> (row, col, value) in upslope-cell units
    (self included)."""
    from whitebox_tools_spark.operators.flow_stitch import solve_wfa

    nodes = cells.filter(F.col("value").isNotNull()).select(
        "row", "col", F.lit(1.0).alias("w")
    )
    edges = mdinf_edges(cells, grid, exponent=exponent)
    return solve_wfa(nodes, edges, block=block, direct_threshold=direct_threshold).select(
        "row", "col", F.col("fa").alias("value")
    )


def _mfd_edges_from_weights(g: DataFrame, w: list, cells: DataFrame) -> DataFrame:
    total = sum(w[1:], w[0])
    g = g.withColumn("__tw", total).filter(F.col("__tw") > 0.0)
    parts = []
    for i in range(8):
        parts.append(
            g.filter(w[i] > 0.0).select(
                "row", "col",
                (F.col("row") + F.lit(D8_DY[i])).alias("trow"),
                (F.col("col") + F.lit(D8_DX[i])).alias("tcol"),
                (w[i] / F.col("__tw")).alias("frac"),
            )
        )
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    valid = cells.filter(F.col("value").isNotNull()).select(
        F.col("row").alias("trow"), F.col("col").alias("tcol")
    )
    return edges.join(valid, ["trow", "tcol"])


def quinn_flow_accumulation(
    cells: DataFrame, grid: GridSpec, *, block: int = 256,
    direct_threshold: int = 200_000,
) -> DataFrame:
    """QuinnFlowAccumulation (whitebox-plugins/src/quinn_flow_accumulation/
    main.rs:385-470, Quinn et al. 1995): flow split over ALL downslope
    neighbors with weight = contour_length * slope, contour lengths
    0.5*res_x (cardinal) / 0.354*res_x (diagonal — the plugin uses res_x
    for both, transcribed). At the default (disabled) convergence
    threshold the exponent modulator (fa/threshold + 1)^e is identically
    1, so the weights are static and the accumulation is the O(log n)
    weighted-semiring stitch. -> (row, col, value) in upslope cells."""
    from whitebox_tools_spark.operators.flow_stitch import solve_wfa

    g = _neighbor_slopes(cells, grid)
    cl = [0.354 * grid.res_x, 0.5 * grid.res_x] * 4
    w = [
        F.when(F.col(f"s{i}").isNotNull() & (F.col(f"s{i}") > 0.0),
               F.lit(cl[i]) * F.col(f"s{i}")).otherwise(F.lit(0.0))
        for i in range(8)
    ]
    edges = _mfd_edges_from_weights(g, w, cells)
    nodes = cells.filter(F.col("value").isNotNull()).select(
        "row", "col", F.lit(1.0).alias("w")
    )
    return solve_wfa(nodes, edges, block=block, direct_threshold=direct_threshold).select(
        "row", "col", F.col("fa").alias("value")
    )


def qin_flow_accumulation(
    cells: DataFrame, grid: GridSpec, *, exponent: float = 10.0,
    max_slope: float = 45.0, block: int = 256, direct_threshold: int = 200_000,
) -> DataFrame:
    """QinFlowAccumulation (whitebox-plugins/src/qin_flow_accumulation/
    main.rs:455-520, Qin et al. 2007): per-cell adaptive exponent
    f = min(max_down_slope, eU)/eU * (pU - 1.1) + 1.1 (eU =
    tan(max_slope deg)), weight = contour_length * slope^f over downslope
    neighbors; static weights at the default disabled threshold ->
    O(log n) stitch. -> (row, col, value)."""
    import math as _math

    from whitebox_tools_spark.operators.flow_stitch import solve_wfa

    us = _math.tan(_math.radians(min(float(max_slope), 90.0)))
    pU, pL = float(exponent), 1.1
    g = _neighbor_slopes(cells, grid)
    smax = F.greatest(*[F.coalesce(F.col(f"s{i}"), F.lit(float("-inf")))
                        for i in range(8)])
    if us > 0.0:
        fexp = F.least(smax, F.lit(us)) / F.lit(us) * F.lit(pU - pL) + F.lit(pL)
    else:
        fexp = F.lit(pU)
    g = g.withColumn("__f", fexp)
    cl = [0.354 * grid.res_x, 0.5 * grid.res_x] * 4
    w = [
        F.when(F.col(f"s{i}").isNotNull() & (F.col(f"s{i}") > 0.0),
               F.lit(cl[i]) * F.pow(F.col(f"s{i}"), F.col("__f"))).otherwise(F.lit(0.0))
        for i in range(8)
    ]
    edges = _mfd_edges_from_weights(g, w, cells)
    nodes = cells.filter(F.col("value").isNotNull()).select(
        "row", "col", F.lit(1.0).alias("w")
    )
    return solve_wfa(nodes, edges, block=block, direct_threshold=direct_threshold).select(
        "row", "col", F.col("fa").alias("value")
    )


def rho8_flow_accumulation(
    cells: DataFrame, grid: GridSpec, *, seed: int = 7, block: int = 256,
    direct_threshold: int = 200_000,
) -> DataFrame:
    """Rho8FlowAccumulation (whitebox-plugins/src/rho8_flow_accumulation,
    Fairfield & Leymarie 1991): accumulation over the rho8 pointer's
    functional flow graph (deterministic seeded diagonal weighting — see
    rho8_pointer) via the O(log n) tile stitch. -> (row, col, value) in
    upslope-cell units."""
    from whitebox_tools_spark.operators.flow_stitch import solve_fa

    ptr = rho8_pointer(cells, grid, seed=seed)
    vals = [1, 2, 4, 8, 16, 32, 64, 128]
    tr = F.coalesce(
        *[F.when(F.col("pointer") == vals[i], F.col("row") + F.lit(D8_DY[i]))
          for i in range(8)]
    )
    tc = F.coalesce(
        *[F.when(F.col("pointer") == vals[i], F.col("col") + F.lit(D8_DX[i]))
          for i in range(8)]
    )
    nodes = ptr.select(
        "row", "col", F.lit(1.0).alias("w"),
        tr.alias("nrow"), tc.alias("ncol"),
    )
    return solve_fa(nodes, block=block, direct_threshold=direct_threshold).select(
        "row", "col", F.col("fa").alias("value")
    )


def cost_pathway(
    cost: DataFrame,
    sources: DataFrame,
    destinations: DataFrame,
    grid: GridSpec,
    *,
    block: int = 4096,
    direct_threshold: int = 2_000_000,
    max_steps: int = 100_000,
) -> DataFrame:
    """CostPathway (gis_analysis/cost_pathway.rs): the least-cost path from
    each destination cell back to the nearest source over the cost
    surface. The accumulated-cost surface comes from the hierarchical
    solver (cost_distance_tiled); the backtrace walks, per destination,
    to the 8-neighbor satisfying acc(c) == acc(p) + w(p, c) (ties to the
    lowest (row, col) — the reference follows its backlink raster, whose
    heap order is unspecified). All destinations advance one step per
    round, so rounds = longest path length while each round only touches
    the active path heads. -> (dest_id, row, col, acc)."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    spark = cost.sparkSession
    acc = cost_distance_tiled(
        cost, sources, grid, block=block, direct_threshold=direct_threshold
    ).select("row", "col", F.col("value").alias("acc")).localCheckpoint(eager=True)
    c = cost.filter(F.col("value").isNotNull()).select(
        "row", "col", F.col("value").alias("cost")
    )
    lens = _grid_lengths(grid)
    offsets = F.broadcast(spark.createDataFrame(
        [(D8_DX[i], D8_DY[i], lens[i]) for i in range(8)], "dx int, dy int, len double"
    ))
    carrier = acc.join(c, ["row", "col"])
    heads = (
        destinations.select(
            F.col("row").alias("hrow"), F.col("col").alias("hcol"),
            (F.col("row") * (1 << 31) + F.col("col")).alias("dest_id"),
        )
        .join(carrier.select(F.col("row").alias("hrow"), F.col("col").alias("hcol"),
                             F.col("acc").alias("hacc")), ["hrow", "hcol"])
        .localCheckpoint(eager=True)
    )
    path = heads.select("dest_id", F.col("hrow").alias("row"),
                        F.col("hcol").alias("col"), F.col("hacc").alias("acc"))
    for _ in range(max_steps):
        live = heads.filter(F.col("hacc") > 0.0)
        if live.limit(1).isEmpty():
            break
        cand = (
            live.crossJoin(offsets)
            .select(
                "dest_id", "hacc",
                (F.col("hrow") + F.col("dy")).alias("row"),
                (F.col("hcol") + F.col("dx")).alias("col"),
                F.col("hrow").alias("crow"), F.col("hcol").alias("ccol"),
                F.col("len").alias("len"),
            )
            .join(carrier, ["row", "col"])
            .join(
                c.select(F.col("row").alias("crow"), F.col("col").alias("ccol"),
                         F.col("cost").alias("ccost")),
                ["crow", "ccol"],
            )
            .filter(
                F.abs(F.col("acc")
                      + (F.col("cost") * (F.lit(0.5) * F.col("len"))
                         + F.col("ccost") * (F.lit(0.5) * F.col("len")))
                      - F.col("hacc")) <= F.lit(1e-9)
            )
            .groupBy("dest_id")
            .agg(F.min(F.struct("row", "col", "acc")).alias("p"))
        )
        heads = cand.select(
            "dest_id", F.col("p.row").alias("hrow"), F.col("p.col").alias("hcol"),
            F.col("p.acc").alias("hacc"),
        ).transform(loop_checkpoint)
        if heads.limit(1).isEmpty():
            break
        path = path.unionByName(
            heads.select("dest_id", F.col("hrow").alias("row"),
                         F.col("hcol").alias("col"), F.col("hacc").alias("acc"))
        ).transform(loop_checkpoint)
    return path


def fill_burn(
    cells: DataFrame,
    stream_cells: DataFrame,
    *,
    block: int = 256,
) -> DataFrame:
    """FillBurn (hydro_analysis/fill_burn.rs:436-640, Saunders 1999 /
    Lindsay 2016): burn stream cells down by 10,000, epsilon-fill the
    burned surface (small_num = 10^-(12 - digits(max dem)); this engine's
    deterministic epsilon fill = flat minimax W + small_num * plateau-BFS
    hops, the same heap-order-free contract as upslope_depression_storage),
    then raise every stream cell by (min over stream cells of
    dem - filled) - 1 so the burned channel sits 1 unit under the
    surrounding terrain. stream_cells: (row, col). -> (row, col, value)."""
    from whitebox_tools_spark.operators.breach import plateau_hops
    from whitebox_tools_spark.operators.flow_stitch import fill_depressions_tiled

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    mask = stream_cells.select("row", "col").distinct().withColumn("__s", F.lit(True))
    mx = src.agg(F.max("value")).collect()[0][0]
    s = 1.0 / (10.0 ** (12 - len(str(int(float(mx))))))
    burned = src.join(mask, ["row", "col"], "left").select(
        "row", "col",
        F.when(F.col("__s"), F.col("value") - 10000.0).otherwise(F.col("value"))
        .alias("value"),
        F.col("value").alias("orig"),
        F.coalesce("__s", F.lit(False)).alias("is_stream"),
    ).localCheckpoint(eager=True)
    w = fill_depressions_tiled(
        burned.select("row", "col", "value"), block=block
    )
    hops = plateau_hops(w)
    hops_e = F.when(F.col("hops") == (1 << 62), F.lit(0)).otherwise(F.col("hops"))
    eps = w.join(hops, ["row", "col"]).select(
        "row", "col",
        (F.col("value") + F.lit(s) * hops_e.cast("double")).alias("filled"),
    )
    j = burned.select("row", "col", "orig", "is_stream").join(eps, ["row", "col"])
    min_diff = (
        j.filter(F.col("is_stream"))
        .agg(F.min(F.col("orig") - F.col("filled")))
        .collect()[0][0]
    )
    lift = float(min_diff) - 1.0
    return j.select(
        "row", "col",
        F.when(F.col("is_stream"), F.col("filled") + F.lit(lift))
        .otherwise(F.col("filled"))
        .alias("value"),
    )


def fill_burn_oracle_sql(source_sql: str, streams_sql: str) -> str:
    """Full mirror over the shared fill/plateau CTEs: burn, minimax W +
    s*hops epsilon fill, min-diff stream raise. streams_sql must yield
    (row, col) stream cells."""
    from whitebox_tools_spark.operators.breach import fill_ptr_ctes

    burned = f"""
SELECT c.row, c.col,
       CASE WHEN s.row IS NOT NULL THEN c.value - 10000.0 ELSE c.value END AS value
FROM ({source_sql}) c
LEFT JOIN (SELECT DISTINCT row, col FROM ({streams_sql}) t) s
  ON s.row = c.row AND s.col = c.col
WHERE c.value IS NOT NULL
"""
    return f"""
WITH RECURSIVE {fill_ptr_ctes(burned)},
smax AS (
  SELECT 1.0 / pow(10, 12 - length(CAST(CAST(max(value) AS BIGINT) AS VARCHAR))) AS s
  FROM ({source_sql}) WHERE value IS NOT NULL
),
eps AS MATERIALIZED (
  SELECT k.row, k.col,
         k.w + sm.s * (CASE WHEN k.hops = 4611686018427387904 THEN 0 ELSE k.hops END) AS filled
  FROM k CROSS JOIN smax sm
),
orig AS (SELECT row, col, value AS orig FROM ({source_sql}) WHERE value IS NOT NULL),
sm2 AS (SELECT DISTINCT row, col FROM ({streams_sql}) t),
md AS (
  SELECT min(o.orig - e.filled) - 1.0 AS lift
  FROM sm2 s JOIN orig o ON o.row = s.row AND o.col = s.col
  JOIN eps e ON e.row = s.row AND e.col = s.col
)
SELECT e.row, e.col,
       round(CASE WHEN s.row IS NOT NULL THEN e.filled + md.lift
                  ELSE e.filled END, 6) AS value
FROM eps e
LEFT JOIN sm2 s ON s.row = e.row AND s.col = e.col
CROSS JOIN md
"""


# ---------------------------------------------------------------------------
# BurnStreamsAtRoads
# ---------------------------------------------------------------------------
_BSAR_DX = [1, 1, 1, 0, -1, -1, -1, 0]
_BSAR_DY = [-1, 0, 1, 1, 1, 0, -1, -1]


def bsar_walk(stream_set: set, dem_val, inter, width_in_cells: int, max_elev: float):
    """The per-intersection double DFS (burn_streams_at_roads.rs:604-676),
    transcribed exactly: stack DFS over stream cells with a path-length
    counter (NOT shortest-path — the reachable set depends on the
    reference's push order, kept), first pass marks + min-search, second
    pass lowers and unmarks. Returns (minz, burned_cells)."""
    state = {c: 1 for c in stream_set}
    row, col = inter
    minz = max_elev
    for e in range(8):
        nb = (row + _BSAR_DY[e], col + _BSAR_DX[e])
        if state.get(nb) == 1:
            stack = [(nb[0], nb[1], 1)]
            state[nb] = 3
            while stack:
                r, c, dd = stack.pop()
                if minz > dem_val((r, c)):
                    minz = dem_val((r, c))
                if dd + 1 < width_in_cells:
                    for d in range(8):
                        n2 = (r + _BSAR_DY[d], c + _BSAR_DX[d])
                        if state.get(n2) == 1:
                            state[n2] = 3
                            stack.append((n2[0], n2[1], dd + 1))
    burned = {inter}
    for e in range(8):
        nb = (row + _BSAR_DY[e], col + _BSAR_DX[e])
        if state.get(nb) == 3:
            stack = [(nb[0], nb[1], 1)]
            while stack:
                r, c, dd = stack.pop()
                burned.add((r, c))
                if dd + 1 < width_in_cells:
                    for d in range(8):
                        n2 = (r + _BSAR_DY[d], c + _BSAR_DX[d])
                        if state.get(n2) == 3:
                            state[n2] = 1
                            stack.append((n2[0], n2[1], dd + 1))
    return minz, burned


def burn_streams_at_roads(
    dem: DataFrame,
    streams: DataFrame,
    roads: DataFrame,
    grid: GridSpec,
    *,
    road_width: float,
) -> DataFrame:
    """BurnStreamsAtRoads (hydro_analysis/burn_streams_at_roads.rs,
    Lindsay 2016): lower stream elevations through road embankments.
    Streams/roads rasterize with the engine's scanline crossings
    (vector_lines_to_raster semantics + part endpoints); intersections =
    stream-cell AND road-cell (the reference's mid-scan corner heuristic
    for near-miss diagonal crossings is state-order-dependent and not
    reproduced — fixture/inputs should cross through shared cells);
    adjacent-intersection downgrades apply the reference's sequential
    first-removed rule over (row, col) order (the reference uses its
    rasterization push order — documented deviation). Each surviving
    intersection runs the exact double-DFS walk on its local stream
    neighborhood (an Arrow kernel per intersection, neighborhoods
    gathered by one bounded join); burns combine by min, exact when burn
    zones do not overlap (the reference couples overlapping zones through
    sequential output mutation).
    -> (row, col, value) lowered DEM."""
    import pandas as pd

    from .raster_vector import vector_lines_to_raster

    grid_res = (grid.res_x + grid.res_y) / 2.0
    width_in_cells = int(math.ceil(road_width / grid_res)) // 2

    def cells_of(lines):
        ras = vector_lines_to_raster(lines, grid).select("row", "col")
        eps = lines.selectExpr(f"{grid.row_sql('ys[0]')} AS row", f"{grid.col_sql('xs[0]')} AS col").unionByName(
            lines.selectExpr(f"{grid.row_sql('element_at(ys, -1)')} AS row", f"{grid.col_sql('element_at(xs, -1)')} AS col")
        )
        return ras.unionByName(eps).distinct()

    sc = cells_of(streams).localCheckpoint(eager=True)
    rc = cells_of(roads)
    inter = sc.join(rc, ["row", "col"]).collect()
    inters = sorted((r.row, r.col) for r in inter)
    # sequential adjacency downgrade (rs:604-617)
    iset = set(inters)
    for (r, c) in inters:
        if any(
            (r + _BSAR_DY[d], c + _BSAR_DX[d]) in iset for d in range(8)
        ):
            iset.discard((r, c))
    survivors = sorted(iset)
    if not survivors:
        return dem.select("row", "col", "value")
    max_elev = dem.agg(F.max("value")).collect()[0][0]

    spark = dem.sparkSession
    idf = spark.createDataFrame(
        [(i, r, c) for i, (r, c) in enumerate(survivors)], "iid int, ir long, ic long"
    )
    reach = width_in_cells + 1
    local = (
        sc.crossJoin(F.broadcast(idf))
        .filter(
            (F.abs(F.col("row") - F.col("ir")) <= reach)
            & (F.abs(F.col("col") - F.col("ic")) <= reach)
        )
        .join(dem.select("row", "col", F.col("value").alias("z")), ["row", "col"], "left")
        .groupBy("iid", "ir", "ic")
        .agg(F.collect_list(F.struct("row", "col", "z")).alias("cells"))
    )

    def _burn(batches):
        for pdf in batches:
            out = []
            for rr in pdf.itertuples(index=False):
                stream_set = {(int(e["row"]), int(e["col"])) for e in rr.cells}
                zmap = {(int(e["row"]), int(e["col"])): (float(e["z"]) if e["z"] is not None else max_elev) for e in rr.cells}
                minz, burned = bsar_walk(
                    stream_set - {(rr.ir, rr.ic)},
                    lambda cc: zmap.get(cc, max_elev),
                    (int(rr.ir), int(rr.ic)),
                    width_in_cells,
                    max_elev,
                )
                for (br, bc) in burned:
                    # the reference SETS the intersection cell to minz
                    # unconditionally (rs:653) — it can RAISE it; other
                    # burned cells only lower (rs:661-663)
                    out.append((br, bc, minz, (br, bc) == (rr.ir, rr.ic)))
            yield pd.DataFrame(out, columns=["row", "col", "burn", "forced"])

    burns = (
        local.mapInPandas(_burn, "row long, col long, burn double, forced boolean")
        .groupBy("row", "col")
        .agg(
            F.min("burn").alias("burn"),
            F.min(F.when(F.col("forced"), F.col("burn"))).alias("forced_burn"),
        )
    )
    return (
        dem.join(burns, ["row", "col"], "left")
        .select(
            "row", "col",
            F.when(F.col("forced_burn").isNotNull(), F.col("forced_burn"))
            .when(
                F.col("burn").isNotNull() & (F.col("value") > F.col("burn")),
                F.col("burn"),
            )
            .otherwise(F.col("value")).alias("value"),
        )
    )
