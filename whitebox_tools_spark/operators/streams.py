"""Stream-network analysis suite (class ITR), built on the D8 machinery in
hydro.py.

References (semantics only; architecture is Spark-native):
  - ExtractStreams: stream_network_analysis/extract_streams.rs:23-33 —
    stream cells are those with flow accumulation > threshold.
  - ShreveStreamMagnitude: stream_network_analysis/shreve_magnitude.rs:17-20
    — magnitude = number of headwater links upstream; headwaters are 1.
  - StrahlerStreamOrder: stream_network_analysis/strahler_order.rs — order =
    max of inflowing link orders, +1 when two or more tie at the max.
  - StreamLinkIdentifier: stream_network_analysis (link id per channel
    between junctions; the junction cell starts the downstream link).
  - Watershed: hydro_analysis/watershed.rs:18-30 — cells labelled with the
    id of the first pour point their D8 flow path reaches.
  - DownslopeFlowpathLength: hydro_analysis/downslope_flowpath_length.rs —
    along-path distance from each cell to its terminal (pit/outlet).
  - NumInflowingNeighbours: hydro_analysis/num_inflowing_neighbours.rs.

Distributed shapes: flow accumulation / Shreve are topological peels
(rounds = DAG depth); link membership, watersheds and flowpath lengths are
successor pointer-doubling (O(log path) self-joins); Strahler is an
iterative wave over the LINK tree (rounds = link-tree depth, each one small
join+aggregate). Nothing here materializes a path set or funnels data
through a single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from whitebox_tools_spark.grid import GridSpec
from whitebox_tools_spark.distributed import loop_checkpoint
from whitebox_tools_spark.operators.hydro import (
    _flow_edges,
    _grid_lengths,
    _fd_ctes,
    d8_flow_accumulation,
    D8_DX,
    D8_DY,
)

_BIG = 1 << 31


def _key(r, c):
    return r * _BIG + c


def extract_streams(
    cells: DataFrame, grid: GridSpec, *, threshold: float, zero_background: bool = True
) -> DataFrame:
    """-> (row, col, value): 1.0 where flow accumulation > threshold, else
    0.0 (zero_background) or absent."""
    fa = d8_flow_accumulation(cells, grid)
    out = fa.select(
        "row", "col",
        F.when(F.col("value") > threshold, F.lit(1.0)).otherwise(F.lit(0.0)).alias("value"),
    )
    if not zero_background:
        out = out.filter(F.col("value") == 1.0)
    return out


def num_inflowing_neighbours(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """-> (row, col, value): count of D8 neighbors flowing into each cell."""
    edges = _flow_edges(cells, grid)
    cnt = edges.groupBy(F.col("trow").alias("row"), F.col("tcol").alias("col")).agg(
        F.count(F.lit(1)).alias("n")
    )
    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    return src.join(cnt, ["row", "col"], "left").select(
        "row", "col", F.coalesce(F.col("n"), F.lit(0)).cast("double").alias("value")
    )


def _stream_set(cells: DataFrame, grid: GridSpec, threshold: float):
    """-> (stream cells (row,col), stream-to-stream flow edges)."""
    fa = d8_flow_accumulation(cells, grid)
    sc = fa.filter(F.col("value") > threshold).select("row", "col")
    e = (
        _flow_edges(cells, grid)
        .join(sc, ["row", "col"])
        .join(
            sc.select(F.col("row").alias("trow"), F.col("col").alias("tcol")),
            ["trow", "tcol"],
        )
    )
    return sc.localCheckpoint(eager=True), e.localCheckpoint(eager=True)


def shreve_magnitude(cells: DataFrame, grid: GridSpec, *, threshold: float) -> DataFrame:
    """-> (row, col, value): Shreve magnitude per stream cell = number of
    headwater stream cells upstream (heads count themselves as 1).
    Topological peel over the stream subgraph."""
    sc, edges = _stream_set(cells, grid, threshold)
    targets = edges.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct()
    heads = sc.join(targets, ["row", "col"], "left_anti")
    acc = sc.join(heads.withColumn("__h", F.lit(1)), ["row", "col"], "left").select(
        "row", "col",
        F.when(F.col("__h").isNotNull(), F.lit(1.0)).otherwise(F.lit(0.0)).alias("fa"),
    ).localCheckpoint(eager=True)
    rem = edges
    while not rem.isEmpty():
        tgt = rem.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct()
        src_edges = rem.join(tgt, ["row", "col"], "left_anti")
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
        rem = rem.join(src_edges.select("row", "col"), ["row", "col"], "left_anti").transform(
            loop_checkpoint
        )
    return acc.select("row", "col", F.col("fa").alias("value"))


def _chain_terminals(nodes: DataFrame, edges: DataFrame, *, max_doublings: int = 48) -> DataFrame:
    """Successor pointer-doubling: follow (row,col)->(trow,tcol) edges (at
    most one outgoing per node) to each node's terminal.
    -> (row, col, trow, tcol) terminal per node."""
    succ = nodes.join(edges, ["row", "col"], "left").select(
        _key(F.col("row"), F.col("col")).alias("key"),
        F.coalesce(_key(F.col("trow"), F.col("tcol")), _key(F.col("row"), F.col("col"))).alias(
            "skey"
        ),
    ).localCheckpoint(eager=True)
    for _ in range(max_doublings):
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
    return succ.select(
        F.floor(F.col("key") / _BIG).cast("long").alias("row"),
        (F.col("key") % _BIG).alias("col"),
        F.floor(F.col("skey") / _BIG).cast("long").alias("trow"),
        (F.col("skey") % _BIG).alias("tcol"),
    )


def _link_edges(sc: DataFrame, edges: DataFrame):
    """Stream edges with junction-entering edges cut (a junction cell — 2+
    stream inflows — begins the next link downstream)."""
    infl = edges.groupBy(F.col("trow"), F.col("tcol")).agg(F.count(F.lit(1)).alias("n"))
    junctions = infl.filter(F.col("n") >= 2).select("trow", "tcol")
    return edges.join(junctions, ["trow", "tcol"], "left_anti"), edges


def stream_link_identifier(
    cells: DataFrame, grid: GridSpec, *, threshold: float
) -> DataFrame:
    """-> (row, col, link_id): dense 1..n link ids, numbered by raster scan
    order of each link's terminal cell (deterministic under any
    partitioning; the reference numbers by encounter order instead)."""
    from whitebox_tools_spark.distributed import with_global_seq

    sc, edges = _stream_set(cells, grid, threshold)
    chain_edges, _ = _link_edges(sc, edges)
    term = _chain_terminals(sc, chain_edges)
    terms = term.select(_key(F.col("trow"), F.col("tcol")).alias("t")).distinct()
    ids = with_global_seq(terms, ["t"], out_col="link_id")
    return term.join(
        F.broadcast(ids), _key(F.col("trow"), F.col("tcol")) == ids["t"]
    ).select("row", "col", "link_id")


def _link_tree(cells: DataFrame, grid: GridSpec, threshold: float):
    """-> (links df (row,col,link_id), tree df (link_id, ds_link_id nullable))."""
    from whitebox_tools_spark.distributed import with_global_seq

    sc, edges = _stream_set(cells, grid, threshold)
    chain_edges, all_edges = _link_edges(sc, edges)
    term = _chain_terminals(sc, chain_edges)
    terms = term.select(_key(F.col("trow"), F.col("tcol")).alias("t")).distinct()
    ids = with_global_seq(terms, ["t"], out_col="link_id")
    links = term.join(
        F.broadcast(ids), _key(F.col("trow"), F.col("tcol")) == ids["t"]
    ).select("row", "col", "link_id")
    # each link's terminal cell either ends the network or has a (cut) edge
    # into a junction cell that belongs to the downstream link
    cut = all_edges.join(chain_edges, ["row", "col", "trow", "tcol"], "left_anti")
    down = (
        links.join(cut, ["row", "col"])
        .join(
            links.select(
                F.col("row").alias("trow"), F.col("col").alias("tcol"),
                F.col("link_id").alias("ds_link_id"),
            ),
            ["trow", "tcol"],
        )
        .select("link_id", "ds_link_id")
        .distinct()
    )
    tree = (
        links.select("link_id").distinct()
        .join(down, "link_id", "left")
        .select("link_id", "ds_link_id")
    )
    return links.localCheckpoint(eager=True), tree.localCheckpoint(eager=True)


def strahler_order(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """-> (row, col, value): Strahler order of each stream cell's link.
    Iterative wave over the link tree: leaves are order 1; a link whose
    children are all ordered gets max(child) + (1 if >= 2 children tie at
    the max). Rounds = link-tree depth; every round is one join+aggregate
    over the (tiny relative to cells) link table."""
    links, tree = _link_tree(cells, grid, threshold)
    assigned = _strahler_link_orders(tree, max_rounds=max_rounds)
    return links.join(assigned, "link_id").select(
        "row", "col", F.col("ord").cast("double").alias("value")
    )


def _strahler_link_orders(tree: DataFrame, *, max_rounds: int = 64) -> DataFrame:
    """-> (link_id, ord): Strahler order per link (see strahler_order)."""
    children = tree.filter(F.col("ds_link_id").isNotNull())
    n_children = children.groupBy(F.col("ds_link_id").alias("link_id")).agg(
        F.count(F.lit(1)).alias("n_ch")
    )
    all_links = tree.select("link_id").distinct()
    # leaves: links that are nobody's ds_link
    assigned = (
        all_links.join(n_children, "link_id", "left_anti")
        .withColumn("ord", F.lit(1))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        todo = all_links.join(assigned.select("link_id"), "link_id", "left_anti")
        if todo.isEmpty():
            break
        ch_ord = (
            children.select(F.col("link_id").alias("ch"), "ds_link_id")
            .join(assigned.select(F.col("link_id").alias("ch"), "ord"), "ch")
            .select(F.col("ds_link_id").alias("link_id"), "ord")
        )
        # n_at_max needs the per-group max: two-step aggregate
        mx = ch_ord.groupBy("link_id").agg(
            F.count(F.lit(1)).alias("n_done"), F.max("ord").alias("mx")
        )
        at_max = (
            ch_ord.join(mx, "link_id")
            .filter(F.col("ord") == F.col("mx"))
            .groupBy("link_id", "n_done", "mx")
            .agg(F.count(F.lit(1)).alias("n_at_max"))
        )
        newly = (
            at_max.join(n_children, "link_id")
            .filter(F.col("n_done") == F.col("n_ch"))
            .join(todo, "link_id")
            .select(
                "link_id",
                (F.col("mx") + F.when(F.col("n_at_max") >= 2, 1).otherwise(0)).alias("ord"),
            )
        )
        if newly.isEmpty():
            break
        # coalesce: unionByName concatenates partition lists, so an
        # uncoalesced loop grows +P partitions per round and checkpoint
        # cost climbs linearly with the round number
        assigned = (
            assigned.unionByName(newly)
            .coalesce(assigned.sparkSession.sparkContext.defaultParallelism)
            .transform(loop_checkpoint)
        )
    return assigned


def _link_forest(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
):
    """Shared stream-link-tree machinery for the ordering/metric tools.

    Builds, with ONE bottom-up wave over the link tree (rounds = junction
    depth, not cell count), per link:
      - ord: Strahler order;
      - d:   max channel-head flow distance at the link terminal (the
             reference tools' trib_length longest-path quantity);
      - tu:  total upstream channel length at the link terminal (every
             upstream stream cell's out-edge length, cut edges included).
    Plus: rel (child -> parent with is_main = the child is the junction's
    main tributary by greatest d, 1e-6 rounding, smaller-link-id ties),
    chaindist (per stream cell: its link and along-chain distance to the
    link terminal, via successor pointer doubling), intl, outlen (length
    of each link terminal's D8 out-edge, 0 when the terminal is a pit).

    Returns a SimpleNamespace; every returned DataFrame is checkpointed.
    """
    from types import SimpleNamespace
    from whitebox_tools_spark.distributed import loop_checkpoint, with_global_seq

    sc, edges = _stream_set(cells, grid, threshold)
    chain_edges, all_edges = _link_edges(sc, edges)
    cd = _chain_terminals_with_dist(sc, _edge_lengths(chain_edges, grid))
    terms = cd.select(_key(F.col("trow"), F.col("tcol")).alias("t")).distinct()
    ids = with_global_seq(terms, ["t"], out_col="link_id")
    # per-cell link id AND distance-to-terminal in one pass
    chaindist = (
        cd.join(F.broadcast(ids), _key(F.col("trow"), F.col("tcol")) == ids["t"])
        .select("row", "col", "link_id", F.col("dist").alias("dist_term"))
        .localCheckpoint(eager=True)
    )
    links = chaindist.select("row", "col", "link_id")
    cut = all_edges.join(chain_edges, ["row", "col", "trow", "tcol"], "left_anti")
    children = (
        links.join(_edge_lengths(cut, grid), ["row", "col"])
        .join(
            links.select(
                F.col("row").alias("trow"), F.col("col").alias("tcol"),
                F.col("link_id").alias("ds_link_id"),
            ),
            ["trow", "tcol"],
        )
        .select("link_id", "ds_link_id", F.col("len").alias("cutlen"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_links = links.select("link_id").distinct().localCheckpoint(eager=True)
    total = all_links.count()
    intl = (
        all_links.join(
            chaindist.groupBy("link_id").agg(F.max("dist_term").alias("intlen")),
            "link_id", "left",
        )
        .withColumn("intlen", F.coalesce("intlen", F.lit(0.0)))
        .localCheckpoint(eager=True)
    )
    # terminal out-edge length (any D8 downslope target, stream or not):
    # StreamLinkLength counts it (stream_link_length.rs:323) and
    # RemoveShortStreams' tributary totals end with it
    term_cells = chaindist.filter(F.col("dist_term") == 0.0).select("row", "col", "link_id")
    outlen = (
        all_links.join(
            term_cells.join(
                _edge_lengths(_flow_edges(cells, grid), grid).select("row", "col", "len"),
                ["row", "col"],
            ).groupBy("link_id").agg(F.max("len").alias("outlen")),
            "link_id", "left",
        )
        .withColumn("outlen", F.coalesce("outlen", F.lit(0.0)))
        .localCheckpoint(eager=True)
    )
    n_children = children.groupBy(F.col("ds_link_id").alias("link_id")).agg(
        F.count(F.lit(1)).alias("n_ch")
    )
    state = (
        all_links.join(n_children, "link_id", "left_anti")
        .join(intl, "link_id")
        .select(
            "link_id", F.lit(1).alias("ord"),
            F.col("intlen").alias("d"), F.col("intlen").alias("tu"),
        )
        .localCheckpoint(eager=True)
    )
    done = state.count()
    for _ in range(max_rounds):
        if done >= total:
            break
        ch = (
            children.select(F.col("link_id").alias("ch"), "ds_link_id", "cutlen")
            .join(state.select(F.col("link_id").alias("ch"), "ord", "d", "tu"), "ch")
            .select(
                F.col("ds_link_id").alias("link_id"),
                "ord",
                (F.col("d") + F.col("cutlen")).alias("s"),
                (F.col("tu") + F.col("cutlen")).alias("t"),
            )
        )
        agg = ch.groupBy("link_id").agg(
            F.count(F.lit(1)).alias("n_done"),
            F.max("ord").alias("mx"),
            F.max("s").alias("mxs"),
            F.sum("t").alias("sumt"),
        )
        at_max = (
            ch.join(agg, "link_id")
            .filter(F.col("ord") == F.col("mx"))
            .groupBy("link_id", "n_done", "mx", "mxs", "sumt")
            .agg(F.count(F.lit(1)).alias("n_at_max"))
        )
        newly = (
            at_max.join(n_children, "link_id")
            .filter(F.col("n_done") == F.col("n_ch"))
            .join(state.select("link_id"), "link_id", "left_anti")
            .join(intl, "link_id")
            .select(
                "link_id",
                (F.col("mx") + F.when(F.col("n_at_max") >= 2, 1).otherwise(0)).alias("ord"),
                (F.col("mxs") + F.col("intlen")).alias("d"),
                (F.col("sumt") + F.col("intlen")).alias("tu"),
            )
        )
        state = state.unionByName(newly).coalesce(
            state.sparkSession.sparkContext.defaultParallelism
        ).transform(loop_checkpoint)
        new_done = state.count()
        if new_done == done:
            break
        done = new_done
    state = state.localCheckpoint(eager=True)

    scored = (
        children.select(F.col("link_id").alias("ch"), "ds_link_id", "cutlen")
        .join(state.select(F.col("link_id").alias("ch"), "d"), "ch")
        .withColumn("s", F.round(F.col("d") + F.col("cutlen"), 6))
    )
    w = Window.partitionBy("ds_link_id").orderBy(F.desc("s"), F.asc("ch"))
    rel = (
        scored.withColumn("rk", F.row_number().over(w))
        .select("ch", "ds_link_id", (F.col("rk") == 1).alias("is_main"))
        .localCheckpoint(eager=True)
    )
    return SimpleNamespace(
        links=links, chaindist=chaindist, children=children,
        all_links=all_links, total=total, intl=intl, outlen=outlen,
        state=state, rel=rel, max_rounds=max_rounds,
    )


def _topdown_orders(fr, init_df, step_fn):
    """Generic top-down wave over the link tree: init_df = (link_id, h) for
    the roots; step_fn(todo) maps the frontier (rel rows joined with the
    parent's h as ph and the child's Strahler ord) to (link_id, h)."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    h = init_df.localCheckpoint(eager=True)
    done = h.count()
    for _ in range(fr.max_rounds):
        if done >= fr.total:
            break
        frontier = (
            fr.rel.join(h.select(F.col("link_id").alias("ch")), "ch", "left_anti")
            .join(
                h.select(F.col("link_id").alias("ds_link_id"), F.col("h").alias("ph")),
                "ds_link_id",
            )
            .join(fr.state.select(F.col("link_id").alias("ch"), "ord"), "ch")
        )
        newly = step_fn(frontier)
        h = h.unionByName(newly).coalesce(
            h.sparkSession.sparkContext.defaultParallelism
        ).transform(loop_checkpoint)
        new_done = h.count()
        if new_done == done:
            break
        done = new_done
    return h


def _roots(fr):
    return fr.all_links.join(
        fr.rel.select(F.col("ch").alias("link_id")), "link_id", "left_anti"
    )


def horton_order(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """HortonOrder (stream_network_analysis/horton_order.rs): every stream
    link takes the Strahler order of the main stem it belongs to. At each
    junction the main stem continues upstream through the tributary with
    the greatest maximum channel-head flow distance (the reference's
    longest-tributary rule, horton_order.rs:413-417); a link that is not
    its parent's main tributary starts a new tributary whose Horton order
    is its own Strahler order (the downstream end of a tributary carries
    its maximum Strahler order). Distances compare rounded to 1e-6 and
    ties break to the smaller link id — the reference's tie outcome
    depends on its serial stack order instead.
    -> (row, col, value) with value = Horton order."""
    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    init = _roots(fr).join(fr.state, "link_id").select("link_id", F.col("ord").alias("h"))
    h = _topdown_orders(
        fr, init,
        lambda fro: fro.select(
            F.col("ch").alias("link_id"),
            F.when(F.col("is_main"), F.col("ph")).otherwise(F.col("ord")).alias("h"),
        ),
    )
    return fr.links.join(h, "link_id").select(
        "row", "col", F.col("h").cast("double").alias("value")
    )


def hack_order(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """HackStreamOrder (stream_network_analysis/hack_order.rs): the outlet
    tributary is order 1 and each side tributary entering it is one order
    higher, recursively; the main stem at each junction is the tributary
    with the greatest channel-head flow distance (hack_order.rs trib_length
    rule — same main-stem relation as horton_order, same deterministic
    tie-break deviation). -> (row, col, value)."""
    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    init = _roots(fr).select("link_id", F.lit(1).alias("h"))
    h = _topdown_orders(
        fr, init,
        lambda fro: fro.select(
            F.col("ch").alias("link_id"),
            F.when(F.col("is_main"), F.col("ph")).otherwise(F.col("ph") + 1).alias("h"),
        ),
    )
    return fr.links.join(h, "link_id").select(
        "row", "col", F.col("h").cast("double").alias("value")
    )


def topological_stream_order(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """TopologicalStreamOrder (stream_network_analysis/
    topological_stream_order.rs): the link draining to the outlet is order
    1, every tributary link is its downstream link's order + 1 (link count
    along the path to the outlet). -> (row, col, value)."""
    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    init = _roots(fr).select("link_id", F.lit(1).alias("h"))
    h = _topdown_orders(
        fr, init,
        lambda fro: fro.select(F.col("ch").alias("link_id"), (F.col("ph") + 1).alias("h")),
    )
    return fr.links.join(h, "link_id").select(
        "row", "col", F.col("h").cast("double").alias("value")
    )


def _trib_chains(fr):
    """Tributary chains = maximal runs of links connected by is_main
    edges. -> (link_id, up_leaf, down_last): the chain's most upstream
    (leaf) link and most downstream link, via pointer doubling on the
    link graph (links encoded as one-cell nodes)."""
    main_edges = fr.rel.filter(F.col("is_main"))
    nodes = fr.all_links.select(F.col("link_id").alias("row"), F.lit(0).alias("col"))
    down = main_edges.select(
        F.col("ch").alias("row"), F.lit(0).alias("col"),
        F.col("ds_link_id").alias("trow"), F.lit(0).alias("tcol"),
    )
    last = _chain_terminals(nodes, down).select(
        F.col("row").alias("link_id"), F.col("trow").alias("down_last")
    )
    up = main_edges.select(
        F.col("ds_link_id").alias("row"), F.lit(0).alias("col"),
        F.col("ch").alias("trow"), F.lit(0).alias("tcol"),
    )
    leaf = _chain_terminals(nodes, up).select(
        F.col("row").alias("link_id"), F.col("trow").alias("up_leaf")
    )
    return last.join(leaf, "link_id").localCheckpoint(eager=True)


def tributary_id(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """TributaryIdentifier (stream_network_analysis/tributary_id.rs): every
    stream cell is labelled with the id of the tributary it belongs to; a
    tributary keeps its identity through a junction when it is the main
    stem (greatest channel-head flow distance). Ids are densely numbered
    in raster-scan order of each tributary's channel-head cell (the
    reference numbers heads in the same row-major scan)."""
    from whitebox_tools_spark.distributed import with_global_seq

    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    chains = _trib_chains(fr)
    # head cell of each LEAF link = its cell farthest from the terminal
    leaf_ids = chains.select(F.col("up_leaf").alias("link_id")).distinct()
    heads = (
        fr.chaindist.join(leaf_ids, "link_id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("link_id").orderBy(F.desc("dist_term"))
            ),
        )
        .filter(F.col("rk") == 1)
        .select("link_id", _key(F.col("row"), F.col("col")).alias("hkey"))
    )
    hid = with_global_seq(heads, ["hkey"], out_col="trib").select(
        F.col("link_id").alias("up_leaf"), "trib"
    )
    lab = chains.join(F.broadcast(hid), "up_leaf").select("link_id", "trib")
    return fr.links.join(lab, "link_id").select(
        "row", "col", F.col("trib").cast("double").alias("value")
    )


def find_main_stem(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """FindMainStem (stream_network_analysis/find_main_stem.rs): 1.0 for
    stream cells on the main channel (the tributary chain that reaches the
    outlet link), 0.0 for other stream cells; main-stem selection by the
    greatest channel-head flow distance at each junction."""
    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    chains = _trib_chains(fr)
    root_set = _roots(fr).select(F.col("link_id").alias("down_last"))
    main_links = chains.join(root_set, "down_last").select("link_id")
    return (
        fr.links.join(main_links.withColumn("__m", F.lit(1.0)), "link_id", "left")
        .select("row", "col", F.coalesce(F.col("__m"), F.lit(0.0)).alias("value"))
    )


def farthest_channel_head(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """FarthestChannelHead (stream_network_analysis/farthest_channel_head
    .rs): per stream cell, the along-network flow distance from the most
    distant upstream channel head (heads are 0). Computed as the link
    wave's d minus the cell's along-chain distance to the link terminal."""
    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    return (
        fr.chaindist.join(fr.state.select("link_id", "d"), "link_id")
        .select(
            "row", "col",
            F.round(F.col("d") - F.col("dist_term"), 6).alias("value"),
        )
    )


def total_length_channels(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """TotalLengthOfUpstreamChannels (stream_network_analysis/
    total_length_channels.rs): per stream cell, the summed length of every
    upstream channel segment (each upstream stream cell's out-edge, cut
    edges included). = the link wave's tu minus the cell's along-chain
    distance to the link terminal."""
    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    return (
        fr.chaindist.join(fr.state.select("link_id", "tu"), "link_id")
        .select(
            "row", "col",
            F.round(F.col("tu") - F.col("dist_term"), 6).alias("value"),
        )
    )


def stream_link_length(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """StreamLinkLength (stream_network_analysis/stream_link_length.rs):
    per stream cell, the length of its link = the sum over the link's
    cells of each cell's D8 out-edge length (stream_link_length.rs:323 —
    the terminal's outflow edge counts even into a non-stream cell)."""
    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    out_edges = _edge_lengths(_flow_edges(cells, grid), grid).select("row", "col", "len")
    lens = (
        fr.links.join(out_edges, ["row", "col"], "left")
        .groupBy("link_id")
        .agg(F.sum(F.coalesce(F.col("len"), F.lit(0.0))).alias("ll"))
    )
    return fr.links.join(lens, "link_id").select(
        "row", "col", F.round(F.col("ll"), 6).alias("value")
    )


def stream_link_slope(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """StreamLinkSlope (stream_network_analysis/stream_link_slope.rs): per
    stream cell, the average slope of its link in PERCENT =
    100 * (max DEM - min DEM over the link's cells) / link length, 0 when
    the link length is 0 (stream_link_slope.rs:385-398)."""
    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    out_edges = _edge_lengths(_flow_edges(cells, grid), grid).select("row", "col", "len")
    dem = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    per_link = (
        fr.links.join(dem, ["row", "col"])
        .join(out_edges, ["row", "col"], "left")
        .groupBy("link_id")
        .agg(
            F.min("value").alias("zmin"), F.max("value").alias("zmax"),
            F.sum(F.coalesce(F.col("len"), F.lit(0.0))).alias("ll"),
        )
        .select(
            "link_id",
            F.when(
                F.col("ll") > 0.0,
                (F.col("zmax") - F.col("zmin")) / F.col("ll") * 100.0,
            ).otherwise(F.lit(0.0)).alias("sl"),
        )
    )
    return fr.links.join(per_link, "link_id").select(
        "row", "col", F.round(F.col("sl"), 6).alias("value")
    )


def remove_short_streams(
    cells: DataFrame, grid: GridSpec, *, threshold: float, min_length: float,
    max_rounds: int = 64
) -> DataFrame:
    """RemoveShortStreams (stream_network_analysis/remove_short_streams
    .rs): prune every stream cell whose TRIBUTARY (longest-path identity,
    same main-stem relation as the ordering tools) has total length
    <= min_length; a tributary's length is the wave's d at its last link
    plus that terminal's out-edge length (remove_short_streams.rs:392-397
    accumulates the out-edge before recording). Kept stream cells are 1.0,
    pruned ones 0.0."""
    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    chains = _trib_chains(fr)
    trib_len = (
        chains.select("link_id", "down_last")
        .join(
            fr.state.select(F.col("link_id").alias("down_last"), "d"), "down_last"
        )
        .join(fr.outlen.select(F.col("link_id").alias("down_last"), "outlen"), "down_last")
        .select("link_id", (F.col("d") + F.col("outlen")).alias("tl"))
    )
    return fr.links.join(trib_len, "link_id").select(
        "row", "col",
        F.when(F.round(F.col("tl"), 6) > min_length, F.lit(1.0))
        .otherwise(F.lit(0.0)).alias("value"),
    )


def distance_to_outlet(
    cells: DataFrame, grid: GridSpec, *, threshold: float
) -> DataFrame:
    """DistanceToOutlet (stream_network_analysis/dist_to_outlet.rs): per
    stream cell, the along-stream flow distance to its network outlet (the
    last stream cell of its D8 path; the outlet itself is 0). Successor
    pointer doubling over the stream edge set with accumulated length."""
    sc, edges = _stream_set(cells, grid, threshold)
    cd = _chain_terminals_with_dist(sc, _edge_lengths(edges, grid))
    return cd.select("row", "col", F.round(F.col("dist"), 6).alias("value"))


def watershed(cells: DataFrame, grid: GridSpec, pour: DataFrame) -> DataFrame:
    """Watershed (hydro_analysis/watershed.rs): label each cell with the id
    of the FIRST pour cell its D8 flow path reaches; cells draining to no
    pour point are absent. pour: (row, col, pour_id).
    -> (row, col, pour_id)."""
    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    edges = _flow_edges(cells, grid)
    # pour cells terminate their path: cut their outgoing edges
    edges = edges.join(pour.select("row", "col"), ["row", "col"], "left_anti")
    term = _chain_terminals(src, edges)
    return term.join(
        pour.select(
            F.col("row").alias("trow"), F.col("col").alias("tcol"), "pour_id"
        ),
        ["trow", "tcol"],
    ).select("row", "col", "pour_id")


def downslope_flowpath_length(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """DownslopeFlowpathLength: along-path distance from each cell to its
    terminal (pit/edge outlet). Distance-accumulating pointer doubling:
    state (succ, dist); each round dist += dist[succ], succ = succ[succ].
    -> (row, col, value)."""
    lens = _grid_lengths(grid)
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    g = _flow_edges(cells, grid)
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
    e = g.withColumn("len", dircase)
    state = src.join(e, ["row", "col"], "left").select(
        _key(F.col("row"), F.col("col")).alias("key"),
        F.coalesce(_key(F.col("trow"), F.col("tcol")), _key(F.col("row"), F.col("col"))).alias(
            "skey"
        ),
        F.coalesce(F.col("len"), F.lit(0.0)).alias("dist"),
    ).localCheckpoint(eager=True)
    for _ in range(48):
        s2 = state.select(
            F.col("key").alias("k2"), F.col("skey").alias("s2"), F.col("dist").alias("d2")
        )
        nxt = (
            state.join(s2, state["skey"] == s2["k2"])
            .select("key", F.col("s2").alias("skey"), (F.col("dist") + F.col("d2")).alias("dist"))
            .transform(loop_checkpoint)
        )
        changed = (
            nxt.join(state.select("key", F.col("skey").alias("old")), "key")
            .filter(F.col("skey") != F.col("old"))
            .limit(1)
            .isEmpty()
        )
        state = nxt
        if changed:
            break
    return state.select(
        F.floor(F.col("key") / _BIG).cast("long").alias("row"),
        (F.col("key") % _BIG).alias("col"),
        F.col("dist").alias("value"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (driver correctness gate). The walk CTEs are linear in
# total path length (the graph is functional: one successor per cell).
# ---------------------------------------------------------------------------
def _stream_ctes(source_sql: str, grid: GridSpec, threshold: float) -> str:
    """Shared prefix: cells/dirs/fd (from hydro) + accumulation walk + the
    stream cell set and stream-to-stream edges."""
    return f"""{_fd_ctes(source_sql, grid)},
walk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol
  FROM walk w JOIN fd f ON f.row = w.row AND f.col = w.col
),
fa AS MATERIALIZED (SELECT row, col, CAST(count(*) AS DOUBLE) AS value FROM walk GROUP BY 1, 2),
sc AS MATERIALIZED (SELECT row, col FROM fa WHERE value > {threshold}),
se AS MATERIALIZED (
  SELECT f.row, f.col, f.i, f.trow, f.tcol
  FROM fd f
  JOIN sc a ON a.row = f.row AND a.col = f.col
  JOIN sc b ON b.row = f.trow AND b.col = f.tcol
),
infl AS MATERIALIZED (SELECT trow, tcol, count(*) AS n FROM se GROUP BY 1, 2)"""


def extract_streams_oracle_sql(source_sql: str, grid: GridSpec, *, threshold: float) -> str:
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
walk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol
  FROM walk w JOIN fd f ON f.row = w.row AND f.col = w.col
)
SELECT row, col,
       CASE WHEN count(*) > {threshold} THEN 1.0 ELSE 0.0 END AS value
FROM walk GROUP BY 1, 2
"""


def num_inflowing_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    return f"""
WITH {_fd_ctes(source_sql, grid)},
cnt AS (SELECT trow AS row, tcol AS col, count(*) AS n FROM fd GROUP BY 1, 2)
SELECT c.row, c.col, CAST(coalesce(cnt.n, 0) AS DOUBLE) AS value
FROM cells c LEFT JOIN cnt ON cnt.row = c.row AND cnt.col = c.col
"""


def shreve_oracle_sql(source_sql: str, grid: GridSpec, *, threshold: float) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},
heads AS (
  SELECT s.row, s.col FROM sc s
  ANTI JOIN infl i ON i.trow = s.row AND i.tcol = s.col
),
swalk(hrow, hcol, row, col) AS (
  SELECT row, col, row, col FROM heads
  UNION
  SELECT w.hrow, w.hcol, e.trow, e.tcol
  FROM swalk w JOIN se e ON e.row = w.row AND e.col = w.col
)
SELECT row, col, CAST(count(*) AS DOUBLE) AS value FROM swalk GROUP BY 1, 2
"""


_LINK_CTES = """
junc AS (SELECT trow, tcol FROM infl WHERE n >= 2),
ce AS MATERIALIZED (SELECT row, col, trow, tcol FROM se ANTI JOIN junc USING (trow, tcol)),
lwalk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM sc
  UNION
  SELECT w.orow, w.ocol, e.trow, e.tcol
  FROM lwalk w JOIN ce e ON e.row = w.row AND e.col = w.col
),
lterm AS (
  SELECT w.orow, w.ocol, w.row AS trow, w.col AS tcol
  FROM lwalk w ANTI JOIN ce e ON e.row = w.row AND e.col = w.col
),
ids AS (
  SELECT trow, tcol,
         CAST(row_number() OVER (ORDER BY trow * 2147483648 + tcol) AS BIGINT) AS link_id
  FROM (SELECT DISTINCT trow, tcol FROM lterm)
),
linkcell AS MATERIALIZED (
  SELECT t.orow AS row, t.ocol AS col, i.link_id
  FROM lterm t JOIN ids i ON i.trow = t.trow AND i.tcol = t.tcol
)"""


def stream_link_oracle_sql(source_sql: str, grid: GridSpec, *, threshold: float) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_LINK_CTES}
SELECT row, col, link_id FROM linkcell
"""


def _strahler_cte_parts(max_rounds: int) -> tuple[list[str], str]:
    """Shared unrolled Strahler-over-links CTE chain (requires the
    _LINK_CTES prefix). -> (cte part list, final per-link order CTE name
    with columns (link_id, ord))."""
    parts = [
        f"""down AS MATERIALIZED (
  SELECT DISTINCT lc.link_id, lc2.link_id AS ds
  FROM linkcell lc
  JOIN (SELECT row, col, trow, tcol FROM se ANTI JOIN ce USING (row, col, trow, tcol)) cut
    ON cut.row = lc.row AND cut.col = lc.col
  JOIN linkcell lc2 ON lc2.row = cut.trow AND lc2.col = cut.tcol
),
nch AS MATERIALIZED (SELECT ds AS link_id, count(*) AS n_ch FROM down GROUP BY ds),
l0 AS MATERIALIZED (
  SELECT link_id, 1 AS ord
  FROM (SELECT DISTINCT link_id FROM linkcell) ANTI JOIN nch USING (link_id)
)"""
    ]
    prev = "l0"
    for t in range(max_rounds):
        parts.append(
            f"""s{t} AS MATERIALIZED (
  SELECT d.ds AS link_id, count(*) AS n_done, max(o.ord) AS mx
  FROM down d JOIN {prev} o ON o.link_id = d.link_id GROUP BY d.ds
),
am{t} AS MATERIALIZED (
  SELECT d.ds AS link_id, any_value(s.mx) AS mx, count(*) AS n_at_max
  FROM down d
  JOIN {prev} o ON o.link_id = d.link_id
  JOIN s{t} s ON s.link_id = d.ds
  WHERE o.ord = s.mx GROUP BY d.ds
),
l{t + 1} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT a.link_id, a.mx + CASE WHEN a.n_at_max >= 2 THEN 1 ELSE 0 END AS ord
  FROM am{t} a
  JOIN s{t} s ON s.link_id = a.link_id
  JOIN nch n ON n.link_id = a.link_id
  WHERE s.n_done = n.n_ch
    AND a.link_id NOT IN (SELECT link_id FROM {prev})
)"""
        )
        prev = f"l{t + 1}"
    return parts, prev


def strahler_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float, max_rounds: int = 16
) -> str:
    """Strahler via a FIXED unrolled iteration over the link tree (chained
    CTEs; aggregates are not allowed inside a recursive term). max_rounds
    bounds the link-tree depth the oracle can resolve."""
    parts, prev = _strahler_cte_parts(max_rounds)
    body = ",\n".join(parts)
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_LINK_CTES},
{body}
SELECT lc.row, lc.col, CAST(o.ord AS DOUBLE) AS value
FROM linkcell lc JOIN {prev} o ON o.link_id = lc.link_id
"""


def horton_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float, max_rounds: int = 16
) -> str:
    """Horton via the same unrolled link-tree machinery as Strahler plus
    (a) an unrolled bottom-up longest-channel-head-distance pass, (b) the
    main-tributary argmax per junction (round 1e-6, ties to smaller link
    id — same rule as the engine), and (c) an unrolled top-down pass where
    main children inherit the parent's Horton order."""
    sparts, sfinal = _strahler_cte_parts(max_rounds)
    parts = list(sparts)
    parts.append(
        """downl AS MATERIALIZED (
  SELECT DISTINCT lc.link_id, lc2.link_id AS ds, d.len AS cutlen
  FROM linkcell lc
  JOIN (SELECT row, col, i, trow, tcol FROM se ANTI JOIN ce USING (row, col, trow, tcol)) cut
    ON cut.row = lc.row AND cut.col = lc.col
  JOIN linkcell lc2 ON lc2.row = cut.trow AND lc2.col = cut.tcol
  JOIN dirs d ON d.i = cut.i
),
chainlen AS MATERIALIZED (
  SELECT lc.link_id, sum(d.len) AS v
  FROM se
  JOIN ce ON ce.row = se.row AND ce.col = se.col
         AND ce.trow = se.trow AND ce.tcol = se.tcol
  JOIN linkcell lc ON lc.row = se.row AND lc.col = se.col
  JOIN dirs d ON d.i = se.i GROUP BY 1
),
intlen AS MATERIALIZED (
  SELECT al.link_id, coalesce(s.v, 0.0) AS intlen
  FROM (SELECT DISTINCT link_id FROM linkcell) al
  LEFT JOIN chainlen s ON s.link_id = al.link_id
),
d0 AS MATERIALIZED (
  SELECT link_id, intlen AS d FROM intlen ANTI JOIN nch USING (link_id)
)"""
    )
    prev = "d0"
    for t in range(max_rounds):
        parts.append(
            f"""ds{t} AS MATERIALIZED (
  SELECT dl.ds AS link_id, count(*) AS n_done, max(o.d + dl.cutlen) AS mx
  FROM downl dl JOIN {prev} o ON o.link_id = dl.link_id GROUP BY dl.ds
),
d{t + 1} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT s.link_id, s.mx + il.intlen AS d
  FROM ds{t} s
  JOIN nch n ON n.link_id = s.link_id
  JOIN intlen il ON il.link_id = s.link_id
  WHERE s.n_done = n.n_ch AND s.link_id NOT IN (SELECT link_id FROM {prev})
)"""
        )
        prev = f"d{t + 1}"
    parts.append(
        f"""rel AS MATERIALIZED (
  SELECT ch, ds, rk = 1 AS is_main FROM (
    SELECT dl.link_id AS ch, dl.ds,
           row_number() OVER (
             PARTITION BY dl.ds
             ORDER BY round(o.d + dl.cutlen, 6) DESC, dl.link_id ASC
           ) AS rk
    FROM downl dl JOIN {prev} o ON o.link_id = dl.link_id
  )
),
h0 AS MATERIALIZED (
  SELECT o.link_id, o.ord AS h FROM {sfinal} o
  WHERE o.link_id NOT IN (SELECT ch FROM rel)
)"""
    )
    hprev = "h0"
    for t in range(max_rounds):
        parts.append(
            f"""h{t + 1} AS MATERIALIZED (
  SELECT * FROM {hprev}
  UNION ALL
  SELECT r.ch AS link_id, CASE WHEN r.is_main THEN p.h ELSE o.ord END AS h
  FROM rel r
  JOIN {hprev} p ON p.link_id = r.ds
  JOIN {sfinal} o ON o.link_id = r.ch
  WHERE r.ch NOT IN (SELECT link_id FROM {hprev})
)"""
        )
        hprev = f"h{t + 1}"
    body = ",\n".join(parts)
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_LINK_CTES},
{body}
SELECT lc.row, lc.col, CAST(h.h AS DOUBLE) AS value
FROM linkcell lc JOIN {hprev} h ON h.link_id = lc.link_id
"""


def _forest_cte_parts(max_rounds: int) -> list[str]:
    """Oracle mirror of _link_forest (requires the _LINK_CTES prefix):
    downl/nch (child->parent with cut-edge length), chainlen/intlen,
    per-cell along-chain distance to the link terminal (distterm), and an
    unrolled bottom-up pass computing per link both d (max channel-head
    flow distance) and tu (total upstream channel length); final pass CTE
    is named dfin, the main-tributary relation relm (ch, ds, is_main)."""
    parts = [
        """downl AS MATERIALIZED (
  SELECT DISTINCT lc.link_id, lc2.link_id AS ds, d.len AS cutlen
  FROM linkcell lc
  JOIN (SELECT row, col, i, trow, tcol FROM se ANTI JOIN ce USING (row, col, trow, tcol)) cut
    ON cut.row = lc.row AND cut.col = lc.col
  JOIN linkcell lc2 ON lc2.row = cut.trow AND lc2.col = cut.tcol
  JOIN dirs d ON d.i = cut.i
),
nch AS MATERIALIZED (SELECT ds AS link_id, count(*) AS n_ch FROM downl GROUP BY ds),
celen AS MATERIALIZED (
  SELECT se.row, se.col, se.trow, se.tcol, d.len
  FROM se
  JOIN ce ON ce.row = se.row AND ce.col = se.col
         AND ce.trow = se.trow AND ce.tcol = se.tcol
  JOIN dirs d ON d.i = se.i
),
wdist(row0, col0, row, col, dist) AS (
  SELECT row, col, row, col, CAST(0.0 AS DOUBLE) FROM sc
  UNION
  SELECT w.row0, w.col0, e.trow, e.tcol, w.dist + e.len
  FROM wdist w JOIN celen e ON e.row = w.row AND e.col = w.col
),
distterm AS MATERIALIZED (
  SELECT row0 AS row, col0 AS col, max(dist) AS dist_term FROM wdist GROUP BY 1, 2
),
intlen AS MATERIALIZED (
  SELECT al.link_id, coalesce(s.v, 0.0) AS intlen
  FROM (SELECT DISTINCT link_id FROM linkcell) al
  LEFT JOIN (
    SELECT lc.link_id, max(dt.dist_term) AS v
    FROM linkcell lc JOIN distterm dt ON dt.row = lc.row AND dt.col = lc.col
    GROUP BY 1
  ) s ON s.link_id = al.link_id
),
d0 AS MATERIALIZED (
  SELECT link_id, intlen AS d, intlen AS tu FROM intlen ANTI JOIN nch USING (link_id)
)"""
    ]
    prev = "d0"
    for t in range(max_rounds):
        parts.append(
            f"""fs{t} AS MATERIALIZED (
  SELECT dl.ds AS link_id, count(*) AS n_done,
         max(o.d + dl.cutlen) AS mx, sum(o.tu + dl.cutlen) AS sumt
  FROM downl dl JOIN {prev} o ON o.link_id = dl.link_id GROUP BY dl.ds
),
d{t + 1} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT s.link_id, s.mx + il.intlen AS d, s.sumt + il.intlen AS tu
  FROM fs{t} s
  JOIN nch n ON n.link_id = s.link_id
  JOIN intlen il ON il.link_id = s.link_id
  WHERE s.n_done = n.n_ch AND s.link_id NOT IN (SELECT link_id FROM {prev})
)"""
        )
        prev = f"d{t + 1}"
    parts.append(
        f"""dfin AS MATERIALIZED (SELECT * FROM {prev}),
relm AS MATERIALIZED (
  SELECT ch, ds, rk = 1 AS is_main FROM (
    SELECT dl.link_id AS ch, dl.ds,
           row_number() OVER (
             PARTITION BY dl.ds
             ORDER BY round(o.d + dl.cutlen, 6) DESC, dl.link_id ASC
           ) AS rk
    FROM downl dl JOIN dfin o ON o.link_id = dl.link_id
  )
),
roots AS MATERIALIZED (
  SELECT DISTINCT link_id FROM linkcell
  WHERE link_id NOT IN (SELECT ch FROM relm)
)"""
    )
    return parts


def _forest_sql(source_sql, grid, threshold, max_rounds, tail):
    body = ",\n".join(_forest_cte_parts(max_rounds))
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_LINK_CTES},
{body},
{tail}
"""


def hack_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float, max_rounds: int = 16
) -> str:
    tail = """hk(link_id, h) AS (
  SELECT link_id, 1 FROM roots
  UNION
  SELECT r.ch, CASE WHEN r.is_main THEN k.h ELSE k.h + 1 END
  FROM relm r JOIN hk k ON k.link_id = r.ds
)
SELECT lc.row, lc.col, CAST(k.h AS DOUBLE) AS value
FROM linkcell lc JOIN hk k ON k.link_id = lc.link_id"""
    return _forest_sql(source_sql, grid, threshold, max_rounds, tail)


def topological_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float, max_rounds: int = 16
) -> str:
    tail = """tp(link_id, h) AS (
  SELECT link_id, 1 FROM roots
  UNION
  SELECT dl.link_id, t.h + 1 FROM downl dl JOIN tp t ON t.link_id = dl.ds
)
SELECT lc.row, lc.col, CAST(t.h AS DOUBLE) AS value
FROM linkcell lc JOIN tp t ON t.link_id = lc.link_id"""
    return _forest_sql(source_sql, grid, threshold, max_rounds, tail)


_TRIB_CHAIN_TAIL = """mainrel AS MATERIALIZED (SELECT ch, ds FROM relm WHERE is_main),
trv(link_id, leaf) AS (
  SELECT link_id, link_id FROM (SELECT DISTINCT link_id FROM linkcell)
  WHERE link_id NOT IN (SELECT ds FROM mainrel)
  UNION
  SELECT m.ds, t.leaf FROM mainrel m JOIN trv t ON t.link_id = m.ch
),
dnv(link_id, last) AS (
  SELECT link_id, link_id FROM (SELECT DISTINCT link_id FROM linkcell)
  WHERE link_id NOT IN (SELECT ch FROM mainrel)
  UNION
  SELECT m.ch, d.last FROM mainrel m JOIN dnv d ON d.link_id = m.ds
)"""


def tributary_id_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float, max_rounds: int = 16
) -> str:
    tail = _TRIB_CHAIN_TAIL + """,
headcell AS MATERIALIZED (
  SELECT link_id, row, col FROM (
    SELECT lc.link_id, lc.row, lc.col,
           row_number() OVER (PARTITION BY lc.link_id ORDER BY dt.dist_term DESC) AS rk
    FROM linkcell lc
    JOIN distterm dt ON dt.row = lc.row AND dt.col = lc.col
    WHERE lc.link_id IN (SELECT DISTINCT leaf FROM trv)
  ) WHERE rk = 1
),
hid AS MATERIALIZED (
  SELECT link_id AS leaf,
         CAST(row_number() OVER (ORDER BY row * 2147483648 + col) AS BIGINT) AS trib
  FROM headcell
)
SELECT lc.row, lc.col, CAST(h.trib AS DOUBLE) AS value
FROM linkcell lc
JOIN trv t ON t.link_id = lc.link_id
JOIN hid h ON h.leaf = t.leaf"""
    return _forest_sql(source_sql, grid, threshold, max_rounds, tail)


def find_main_stem_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float, max_rounds: int = 16
) -> str:
    tail = _TRIB_CHAIN_TAIL + """
SELECT lc.row, lc.col,
       CASE WHEN d.last IN (SELECT link_id FROM roots) THEN 1.0 ELSE 0.0 END AS value
FROM linkcell lc JOIN dnv d ON d.link_id = lc.link_id"""
    return _forest_sql(source_sql, grid, threshold, max_rounds, tail)


def farthest_head_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float, max_rounds: int = 16
) -> str:
    tail = """fh AS (SELECT 1)
SELECT lc.row, lc.col, round(o.d - dt.dist_term, 6) AS value
FROM linkcell lc
JOIN dfin o ON o.link_id = lc.link_id
JOIN distterm dt ON dt.row = lc.row AND dt.col = lc.col"""
    return _forest_sql(source_sql, grid, threshold, max_rounds, tail)


def total_length_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float, max_rounds: int = 16
) -> str:
    tail = """tl AS (SELECT 1)
SELECT lc.row, lc.col, round(o.tu - dt.dist_term, 6) AS value
FROM linkcell lc
JOIN dfin o ON o.link_id = lc.link_id
JOIN distterm dt ON dt.row = lc.row AND dt.col = lc.col"""
    return _forest_sql(source_sql, grid, threshold, max_rounds, tail)


_OUT_EDGE_CTE = """oe AS MATERIALIZED (
  SELECT f.row, f.col, d.len FROM fd f JOIN dirs d ON d.i = f.i
)"""


def stream_link_length_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float
) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_LINK_CTES},
{_OUT_EDGE_CTE},
ll AS (
  SELECT lc.link_id, sum(CAST(coalesce(oe.len, 0.0) AS DOUBLE)) AS v
  FROM linkcell lc
  LEFT JOIN oe ON oe.row = lc.row AND oe.col = lc.col
  GROUP BY 1
)
SELECT lc.row, lc.col, round(l.v, 6) AS value
FROM linkcell lc JOIN ll l ON l.link_id = lc.link_id
"""


def stream_link_slope_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float
) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_LINK_CTES},
{_OUT_EDGE_CTE},
sl AS (
  SELECT lc.link_id,
         CASE WHEN sum(coalesce(oe.len, 0.0)) > 0.0
              THEN (max(c.value) - min(c.value)) / sum(coalesce(oe.len, 0.0)) * 100.0
              ELSE 0.0 END AS v
  FROM linkcell lc
  JOIN cells c ON c.row = lc.row AND c.col = lc.col
  LEFT JOIN oe ON oe.row = lc.row AND oe.col = lc.col
  GROUP BY 1
)
SELECT lc.row, lc.col, round(s.v, 6) AS value
FROM linkcell lc JOIN sl s ON s.link_id = lc.link_id
"""


def remove_short_streams_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float, min_length: float,
    max_rounds: int = 16
) -> str:
    tail = _TRIB_CHAIN_TAIL + """,
termout AS MATERIALIZED (
  SELECT al.link_id, coalesce(s.v, 0.0) AS outlen
  FROM (SELECT DISTINCT link_id FROM linkcell) al
  LEFT JOIN (
    SELECT lc.link_id, max(oe2.len) AS v
    FROM linkcell lc
    JOIN distterm dt ON dt.row = lc.row AND dt.col = lc.col AND dt.dist_term = 0.0
    JOIN (SELECT f.row, f.col, d.len FROM fd f JOIN dirs d ON d.i = f.i) oe2
      ON oe2.row = lc.row AND oe2.col = lc.col
    GROUP BY 1
  ) s ON s.link_id = al.link_id
),
triblen AS MATERIALIZED (
  SELECT d.link_id, o.d + t.outlen AS tl
  FROM dnv d
  JOIN dfin o ON o.link_id = d.last
  JOIN termout t ON t.link_id = d.last
)
SELECT lc.row, lc.col,
       CASE WHEN round(t.tl, 6) > {MINLEN} THEN 1.0 ELSE 0.0 END AS value
FROM linkcell lc JOIN triblen t ON t.link_id = lc.link_id""".replace(
        "{MINLEN}", repr(min_length)
    )
    return _forest_sql(source_sql, grid, threshold, max_rounds, tail)


def dist_to_outlet_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float
) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},
selen AS MATERIALIZED (
  SELECT se.row, se.col, se.trow, se.tcol, d.len
  FROM se JOIN dirs d ON d.i = se.i
),
swalk(row0, col0, row, col, dist) AS (
  SELECT row, col, row, col, CAST(0.0 AS DOUBLE) FROM sc
  UNION
  SELECT w.row0, w.col0, e.trow, e.tcol, w.dist + e.len
  FROM swalk w JOIN selen e ON e.row = w.row AND e.col = w.col
)
SELECT row0 AS row, col0 AS col, round(max(dist), 6) AS value
FROM swalk GROUP BY 1, 2
"""


def watershed_oracle_sql(
    source_sql: str, grid: GridSpec, pour: list[tuple[int, int, int]]
) -> str:
    vals = ", ".join(f"({r}, {c}, {pid})" for r, c, pid in pour)
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
pour(prow, pcol, pour_id) AS (VALUES {vals}),
we AS (
  SELECT f.row, f.col, f.trow, f.tcol FROM fd f
  ANTI JOIN pour p ON p.prow = f.row AND p.pcol = f.col
),
wwalk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM cells
  UNION
  SELECT w.orow, w.ocol, e.trow, e.tcol
  FROM wwalk w JOIN we e ON e.row = w.row AND e.col = w.col
),
wterm AS (
  SELECT w.orow, w.ocol, w.row, w.col
  FROM wwalk w ANTI JOIN we e ON e.row = w.row AND e.col = w.col
)
SELECT t.orow AS row, t.ocol AS col, CAST(p.pour_id AS BIGINT) AS pour_id
FROM wterm t JOIN pour p ON p.prow = t.row AND p.pcol = t.col
"""


def flowpath_length_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
fwalk(orow, ocol, row, col, dist) AS (
  SELECT row, col, row, col, CAST(0.0 AS DOUBLE) FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol, w.dist + d.len
  FROM fwalk w
  JOIN fd f ON f.row = w.row AND f.col = w.col
  JOIN dirs d ON d.i = f.i
)
SELECT orow AS row, ocol AS col, round(max(dist), 6) AS value
FROM fwalk GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Stream-relative operators: every cell's flow path is cut at the FIRST
# stream cell it reaches (stream cells' outgoing edges removed), then
# pointer-doubling finds that terminal in O(log path) rounds.
#   - SubBasins (hydro_analysis/subbasins.rs): label = the terminal stream
#     cell's link id.
#   - ElevationAboveStream (hydro_analysis/elevation_above_stream.rs):
#     z(cell) - z(terminal stream cell).
#   - DownslopeDistanceToStream (hydro_analysis/downslope_distance_to_stream.rs):
#     along-path distance to the terminal stream cell (stream cells = 0).
# Cells whose path never meets a stream are absent (reference nodata).
# ---------------------------------------------------------------------------
def _edge_lengths(edges: DataFrame, grid: GridSpec) -> DataFrame:
    lens = _grid_lengths(grid)
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
    return edges.withColumn("len", dircase)


def _chain_terminals_with_dist(
    nodes: DataFrame, edges_len: DataFrame, *, max_doublings: int = 48
) -> DataFrame:
    """Like _chain_terminals but accumulates along-path distance.
    edges_len: (row, col, trow, tcol, len). -> (row, col, trow, tcol, dist)."""
    state = nodes.join(edges_len, ["row", "col"], "left").select(
        _key(F.col("row"), F.col("col")).alias("key"),
        F.coalesce(_key(F.col("trow"), F.col("tcol")), _key(F.col("row"), F.col("col"))).alias(
            "skey"
        ),
        F.coalesce(F.col("len"), F.lit(0.0)).alias("dist"),
    ).localCheckpoint(eager=True)
    for _ in range(max_doublings):
        s2 = state.select(
            F.col("key").alias("k2"), F.col("skey").alias("s2"), F.col("dist").alias("d2")
        )
        nxt = (
            state.join(s2, state["skey"] == s2["k2"])
            .select("key", F.col("s2").alias("skey"), (F.col("dist") + F.col("d2")).alias("dist"))
            .transform(loop_checkpoint)
        )
        changed = (
            nxt.join(state.select("key", F.col("skey").alias("old")), "key")
            .filter(F.col("skey") != F.col("old"))
            .limit(1)
            .isEmpty()
        )
        state = nxt
        if changed:
            break
    return state.select(
        F.floor(F.col("key") / _BIG).cast("long").alias("row"),
        (F.col("key") % _BIG).alias("col"),
        F.floor(F.col("skey") / _BIG).cast("long").alias("trow"),
        (F.col("skey") % _BIG).alias("tcol"),
        "dist",
    )


def _stream_terminals(cells: DataFrame, grid: GridSpec, threshold: float):
    """-> (term df (row,col,trow,tcol,dist), stream cell set): flow paths
    cut at stream cells, so trow/tcol is the FIRST stream cell reached
    (or a pit/outlet when the path never meets a stream)."""
    sc, _ = _stream_set(cells, grid, threshold)
    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    edges = _flow_edges(cells, grid).join(sc, ["row", "col"], "left_anti")
    term = _chain_terminals_with_dist(src, _edge_lengths(edges, grid))
    return term, sc


def subbasins(cells: DataFrame, grid: GridSpec, *, threshold: float) -> DataFrame:
    """-> (row, col, basin_id): the link id of the first stream cell on
    each cell's flow path (reference assigns each stream link's watershed
    its link id)."""
    term, _ = _stream_terminals(cells, grid, threshold)
    links = stream_link_identifier(cells, grid, threshold=threshold)
    return term.join(
        links.select(
            F.col("row").alias("trow"), F.col("col").alias("tcol"),
            F.col("link_id").alias("basin_id"),
        ),
        ["trow", "tcol"],
    ).select("row", "col", "basin_id")


def elevation_above_stream(
    cells: DataFrame, grid: GridSpec, *, threshold: float
) -> DataFrame:
    """-> (row, col, value): z(cell) - z(first stream cell on the flow
    path); stream cells are 0."""
    term, sc = _stream_terminals(cells, grid, threshold)
    z = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    tz = z.select(
        F.col("row").alias("trow"), F.col("col").alias("tcol"), F.col("value").alias("tz")
    )
    on_stream = sc.select(F.col("row").alias("trow"), F.col("col").alias("tcol"))
    return (
        term.join(on_stream, ["trow", "tcol"])
        .join(z, ["row", "col"])
        .join(tz, ["trow", "tcol"])
        .select("row", "col", (F.col("value") - F.col("tz")).alias("value"))
    )


def downslope_distance_to_stream(
    cells: DataFrame, grid: GridSpec, *, threshold: float
) -> DataFrame:
    """-> (row, col, value): along-path distance to the first stream cell;
    stream cells are 0; cells never reaching a stream absent."""
    term, sc = _stream_terminals(cells, grid, threshold)
    on_stream = sc.select(F.col("row").alias("trow"), F.col("col").alias("tcol"))
    return term.join(on_stream, ["trow", "tcol"]).select(
        "row", "col", F.col("dist").alias("value")
    )


def depth_in_sink(cells: DataFrame, *, max_iterations: int = 10_000) -> DataFrame:
    """DepthInSink (hydro_analysis/depth_in_sink.rs): filled elevation
    minus original elevation (0 outside depressions)."""
    from whitebox_tools_spark.operators.hydro import fill_depressions

    filled = fill_depressions(cells, max_iterations=max_iterations).select(
        "row", "col", F.col("value").alias("w")
    )
    return (
        cells.filter(F.col("value").isNotNull())
        .join(filled, ["row", "col"])
        .select("row", "col", (F.col("w") - F.col("value")).alias("value"))
    )


def _cut_walk_ctes(threshold_unused=None) -> str:
    """Recursive walk over stream-cut flow edges, with distances."""
    return """
cutfd AS MATERIALIZED (
  SELECT f.row, f.col, f.i, f.trow, f.tcol FROM fd f
  ANTI JOIN sc s ON s.row = f.row AND s.col = f.col
),
twalk(orow, ocol, row, col, dist) AS (
  SELECT row, col, row, col, CAST(0.0 AS DOUBLE) FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol, w.dist + d.len
  FROM twalk w
  JOIN cutfd f ON f.row = w.row AND f.col = w.col
  JOIN dirs d ON d.i = f.i
),
tterm AS MATERIALIZED (
  SELECT w.orow, w.ocol, w.row AS trow, w.col AS tcol, w.dist
  FROM twalk w ANTI JOIN cutfd f ON f.row = w.row AND f.col = w.col
)"""


def subbasins_oracle_sql(source_sql: str, grid: GridSpec, *, threshold: float) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_LINK_CTES},{_cut_walk_ctes()}
SELECT t.orow AS row, t.ocol AS col, lc.link_id AS basin_id
FROM tterm t JOIN linkcell lc ON lc.row = t.trow AND lc.col = t.tcol
"""


def elevation_above_stream_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float
) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_cut_walk_ctes()}
SELECT t.orow AS row, t.ocol AS col, zo.value - zt.value AS value
FROM tterm t
JOIN sc s ON s.row = t.trow AND s.col = t.tcol
JOIN cells zo ON zo.row = t.orow AND zo.col = t.ocol
JOIN cells zt ON zt.row = t.trow AND zt.col = t.tcol
"""


def distance_to_stream_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float
) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_cut_walk_ctes()}
SELECT t.orow AS row, t.ocol AS col, round(t.dist, 6) AS value
FROM tterm t JOIN sc s ON s.row = t.trow AND s.col = t.tcol
"""


def max_upslope_flowpath(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """MaxUpslopeFlowpathLength (hydro_analysis/max_upslope_flowpath.rs):
    length of the longest flow path draining TO each cell (0 at heads).
    Topological peel propagating max(L + edge length). -> (row, col, value)."""
    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    edges = _edge_lengths(_flow_edges(cells, grid), grid)
    acc = src.select("row", "col", F.lit(0.0).alias("fa")).localCheckpoint(eager=True)
    rem = edges.localCheckpoint(eager=True)
    while not rem.isEmpty():
        tgt = rem.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct()
        src_edges = rem.join(tgt, ["row", "col"], "left_anti")
        pushed = (
            src_edges.join(acc, ["row", "col"])
            .groupBy(F.col("trow").alias("row"), F.col("tcol").alias("col"))
            .agg(F.max(F.col("fa") + F.col("len")).alias("inflow"))
        )
        acc = (
            acc.join(pushed, ["row", "col"], "left")
            .withColumn("fa", F.greatest(F.col("fa"), F.coalesce(F.col("inflow"), F.col("fa"))))
            .drop("inflow")
            .transform(loop_checkpoint)
        )
        rem = rem.join(src_edges.select("row", "col"), ["row", "col"], "left_anti").transform(
            loop_checkpoint
        )
    return acc.select("row", "col", F.col("fa").alias("value"))


def max_upslope_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
fwalk(orow, ocol, row, col, dist) AS (
  SELECT row, col, row, col, CAST(0.0 AS DOUBLE) FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol, w.dist + d.len
  FROM fwalk w
  JOIN fd f ON f.row = w.row AND f.col = w.col
  JOIN dirs d ON d.i = f.i
)
SELECT row, col, round(max(dist), 6) AS value FROM fwalk GROUP BY 1, 2
"""


def snap_pour_points(
    cells: DataFrame, grid: GridSpec, pour: DataFrame, *, snap_cells: int = 2
) -> DataFrame:
    """JensonSnapPourPoints-style snap (hydro_analysis/jenson_snap_pour_points.rs
    semantics over accumulation like snap_pour_points.rs): move each pour
    point to the cell with the HIGHEST flow accumulation within the
    snap window; ties to the smallest (row, col). pour: (row, col, pour_id).
    -> (pour_id, row, col)."""
    spark = cells.sparkSession
    fa = d8_flow_accumulation(cells, grid)
    offs = spark.createDataFrame(
        [
            (dx, dy)
            for dx in range(-snap_cells, snap_cells + 1)
            for dy in range(-snap_cells, snap_cells + 1)
        ],
        "dx int, dy int",
    )
    cand = (
        pour.crossJoin(F.broadcast(offs))
        .select(
            "pour_id",
            (F.col("row") + F.col("dy")).alias("row"),
            (F.col("col") + F.col("dx")).alias("col"),
        )
        .join(fa, ["row", "col"])
    )
    w = Window.partitionBy("pour_id").orderBy(
        F.desc("value"), F.asc("row"), F.asc("col")
    )
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("pour_id", "row", "col")
    )


def snap_pour_oracle_sql(
    source_sql: str, grid: GridSpec, pour: list, *, snap_cells: int = 2
) -> str:
    vals = ", ".join(f"({r}, {c}, {pid})" for r, c, pid in pour)
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
walk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol
  FROM walk w JOIN fd f ON f.row = w.row AND f.col = w.col
),
fa AS (SELECT row, col, CAST(count(*) AS DOUBLE) AS value FROM walk GROUP BY 1, 2),
pour(prow, pcol, pour_id) AS (VALUES {vals}),
cand AS (
  SELECT p.pour_id, f.row, f.col, f.value,
         row_number() OVER (PARTITION BY p.pour_id
                            ORDER BY f.value DESC, f.row ASC, f.col ASC) AS _rk
  FROM pour p JOIN fa f
    ON f.row BETWEEN p.prow - {snap_cells} AND p.prow + {snap_cells}
   AND f.col BETWEEN p.pcol - {snap_cells} AND p.pcol + {snap_cells}
)
SELECT pour_id, row, col FROM cand WHERE _rk = 1
"""


def raster_streams_to_vector(
    cells: DataFrame, grid: GridSpec, *, threshold: float
) -> DataFrame:
    """RasterStreamsToVector (stream_network_analysis/
    raster_streams_to_vector.rs): one polyline per stream link, vertices at
    cell centers ordered upstream->downstream. Vertex order comes from each
    cell's remaining along-chain distance to the link terminal (strictly
    decreasing along a chain), so the ordering is partition-independent.
    -> (link_id, seq, x, y)."""
    from whitebox_tools_spark.distributed import with_global_seq

    sc, edges = _stream_set(cells, grid, threshold)
    chain_edges, _ = _link_edges(sc, edges)
    term = _chain_terminals_with_dist(sc, _edge_lengths(chain_edges, grid))
    terms = term.select(_key(F.col("trow"), F.col("tcol")).alias("t")).distinct()
    ids = with_global_seq(terms, ["t"], out_col="link_id")
    labeled = term.join(
        F.broadcast(ids), _key(F.col("trow"), F.col("tcol")) == ids["t"]
    ).select("row", "col", "link_id", "dist")
    w = Window.partitionBy("link_id").orderBy(F.desc("dist"), F.asc("row"), F.asc("col"))
    return labeled.withColumn("seq", F.row_number().over(w).cast("long")).select(
        "link_id", "seq",
        (F.lit(grid.west + grid.res_x / 2.0) + F.col("col") * F.lit(grid.res_x)).alias("x"),
        (F.lit(grid.north - grid.res_y / 2.0) - F.col("row") * F.lit(grid.res_y)).alias("y"),
    )


def streams_to_vector_oracle_sql(source_sql: str, grid: GridSpec, *, threshold: float) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},
junc AS (SELECT trow, tcol FROM infl WHERE n >= 2),
ce AS MATERIALIZED (SELECT row, col, i, trow, tcol FROM se ANTI JOIN junc USING (trow, tcol)),
dwalk(orow, ocol, row, col, dist) AS (
  SELECT row, col, row, col, CAST(0.0 AS DOUBLE) FROM sc
  UNION
  SELECT w.orow, w.ocol, e.trow, e.tcol, w.dist + d.len
  FROM dwalk w
  JOIN ce e ON e.row = w.row AND e.col = w.col
  JOIN dirs d ON d.i = e.i
),
dterm AS MATERIALIZED (
  SELECT w.orow, w.ocol, w.row AS trow, w.col AS tcol, w.dist
  FROM dwalk w ANTI JOIN ce e ON e.row = w.row AND e.col = w.col
),
ids AS (
  SELECT trow, tcol,
         CAST(row_number() OVER (ORDER BY trow * 2147483648 + tcol) AS BIGINT) AS link_id
  FROM (SELECT DISTINCT trow, tcol FROM dterm)
)
SELECT i.link_id,
       CAST(row_number() OVER (PARTITION BY i.link_id
                               ORDER BY t.dist DESC, t.orow ASC, t.ocol ASC) AS BIGINT) AS seq,
       {grid.west!r} + {grid.res_x / 2.0!r} + t.ocol * {grid.res_x!r} AS x,
       {grid.north!r} - {grid.res_y / 2.0!r} - t.orow * {grid.res_y!r} AS y
FROM dterm t JOIN ids i ON i.trow = t.trow AND i.tcol = t.tcol
"""


def stream_slope_continuous(
    cells: DataFrame, grid: GridSpec, *, threshold: float
) -> DataFrame:
    """StreamSlopeContinuous (stream_network_analysis/
    stream_slope_continuous.rs:380-427): per stream cell, slope in degrees
    between the average inflowing stream neighbor elevation (falling back
    to the cell's own z) and the D8 downslope target elevation, over the
    average inflow hop length plus the outflow hop length; 0 where the
    total distance is 0. -> (row, col, value) for stream cells only."""
    sc, se = _stream_set(cells, grid, threshold)
    dem = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    se_len = _edge_lengths(se, grid)
    infl = (
        se_len.join(
            dem.select(F.col("row"), F.col("col"), F.col("value").alias("zs")),
            ["row", "col"],
        )
        .groupBy(F.col("trow").alias("row"), F.col("tcol").alias("col"))
        .agg(F.avg("zs").alias("z_in"), F.avg("len").alias("d_in"))
    )
    own = (
        _edge_lengths(_flow_edges(cells, grid), grid)
        .join(
            dem.select(
                F.col("row").alias("trow"), F.col("col").alias("tcol"),
                F.col("value").alias("z_dn"),
            ),
            ["trow", "tcol"],
        )
        .select("row", "col", "z_dn", F.col("len").alias("d_out"))
    )
    base = sc.join(dem, ["row", "col"])
    j = base.join(infl, ["row", "col"], "left").join(own, ["row", "col"], "left")
    z_in = F.coalesce(F.col("z_in"), F.col("value"))
    z_dn = F.coalesce(F.col("z_dn"), F.col("value"))
    dist = F.coalesce(F.col("d_in"), F.lit(0.0)) + F.coalesce(F.col("d_out"), F.lit(0.0))
    return j.select(
        "row", "col",
        F.when(dist > 0.0, F.degrees(F.atan((z_in - z_dn) / dist)))
        .otherwise(F.lit(0.0)).alias("value"),
    )


def stream_slope_continuous_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float
) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},
sel AS (
  SELECT e.*, d.len FROM se e JOIN dirs d ON d.i = e.i
),
inflow AS (
  SELECT e.trow AS row, e.tcol AS col, avg(c.value) AS z_in, avg(e.len) AS d_in
  FROM sel e JOIN cells c ON c.row = e.row AND c.col = e.col
  GROUP BY 1, 2
),
own AS (
  SELECT f.row, f.col, t.value AS z_dn, d.len AS d_out
  FROM fd f JOIN dirs d ON d.i = f.i
  JOIN cells t ON t.row = f.trow AND t.col = f.tcol
)
SELECT s.row, s.col,
       CASE WHEN coalesce(i.d_in, 0.0) + coalesce(o.d_out, 0.0) > 0.0
            THEN degrees(atan((coalesce(i.z_in, c.value) - coalesce(o.z_dn, c.value))
                              / (coalesce(i.d_in, 0.0) + coalesce(o.d_out, 0.0))))
            ELSE 0.0 END AS value
FROM sc s
JOIN cells c ON c.row = s.row AND c.col = s.col
LEFT JOIN inflow i ON i.row = s.row AND i.col = s.col
LEFT JOIN own o ON o.row = s.row AND o.col = s.col
"""


def jenson_snap_pour_points(
    cells: DataFrame, grid: GridSpec, pour: DataFrame, *,
    threshold: float, snap_cells: int = 3,
) -> DataFrame:
    """JensonSnapPourPoints (hydro_analysis/jenson_snap_pour_points.rs):
    move each pour point to the NEAREST stream cell within the snap
    window (squared-cell-distance ties to the smallest (row, col)).
    pour: (row, col, pour_id). -> (pour_id, row, col)."""
    spark = cells.sparkSession
    sc, _ = _stream_set(cells, grid, threshold)
    offs = spark.createDataFrame(
        [
            (dx, dy)
            for dx in range(-snap_cells, snap_cells + 1)
            for dy in range(-snap_cells, snap_cells + 1)
        ],
        "dx int, dy int",
    )
    cand = (
        pour.crossJoin(F.broadcast(offs))
        .select(
            "pour_id", F.col("row").alias("prow"), F.col("col").alias("pcol"),
            (F.col("row") + F.col("dy")).alias("row"),
            (F.col("col") + F.col("dx")).alias("col"),
        )
        .join(sc, ["row", "col"])
    )
    d2 = (
        (F.col("row") - F.col("prow")) ** 2 + (F.col("col") - F.col("pcol")) ** 2
    )
    w = Window.partitionBy("pour_id").orderBy(
        d2.asc(), F.asc("row"), F.asc("col")
    )
    snapped = (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("pour_id", "row", "col")
    )
    # points with no stream cell in range stay at their original location
    return pour.select("pour_id", F.col("row").alias("orow"), F.col("col").alias("ocol")).join(
        snapped, "pour_id", "left"
    ).select(
        "pour_id",
        F.coalesce(F.col("row"), F.col("orow")).alias("row"),
        F.coalesce(F.col("col"), F.col("ocol")).alias("col"),
    )


def jenson_snap_oracle_sql(
    source_sql: str, grid: GridSpec, pour: list, *, threshold: float,
    snap_cells: int = 3,
) -> str:
    vals = ", ".join(f"({pid}, {r}, {c})" for pid, r, c in pour)
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},
pour(pour_id, prow, pcol) AS (VALUES {vals}),
cand AS (
  SELECT p.pour_id, p.prow, p.pcol, s.row, s.col,
         (s.row - p.prow) * (s.row - p.prow)
         + (s.col - p.pcol) * (s.col - p.pcol) AS d2
  FROM pour p JOIN sc s
    ON abs(s.row - p.prow) <= {snap_cells} AND abs(s.col - p.pcol) <= {snap_cells}
),
pick AS (
  SELECT pour_id, row, col,
         row_number() OVER (PARTITION BY pour_id ORDER BY d2, row, col) AS rk
  FROM cand
)
SELECT CAST(p.pour_id AS BIGINT) AS pour_id,
       coalesce(k.row, p.prow) AS row, coalesce(k.col, p.pcol) AS col
FROM pour p LEFT JOIN (SELECT pour_id, row, col FROM pick WHERE rk = 1) k
  ON k.pour_id = p.pour_id
"""


def elevation_above_stream_euclidean(
    cells: DataFrame, grid: GridSpec, index, *, threshold: float
) -> DataFrame:
    """ElevationAboveStreamEuclidean (hydro_analysis/
    elevation_above_stream_euclidean.rs): z minus the elevation of the
    EUCLIDEAN-nearest stream cell (exact kNN join).
    -> (row, col, value)."""
    from whitebox_tools_spark.operators.knn import knn_join

    sc, _ = _stream_set(cells, grid, threshold)
    dem = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    x, y = grid.x_center_sql("col"), grid.y_center_sql("row")
    srcs = sc.join(dem, ["row", "col"]).selectExpr(
        f"row * {grid.cols} + col AS point_id", f"{x} AS px", f"{y} AS py", "value AS z"
    )
    targets = dem.selectExpr(f"row * {grid.cols} + col AS target_id", f"{x} AS x", f"{y} AS y")
    nn = knn_join(targets, srcs, 1, index, px="px", py="py")
    return (
        dem.withColumn(
            "target_id", F.col("row") * grid.cols + F.col("col")
        )
        .join(nn.select("target_id", F.col("z").alias("sz")), "target_id")
        .select("row", "col", (F.col("value") - F.col("sz")).alias("value"))
    )


def elev_above_stream_euclid_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float
) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},
dem AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
srcs AS (
  SELECT s.row * {grid.cols} + s.col AS pid,
         {grid.x_center_sql("s.col")} AS px, {grid.y_center_sql("s.row")} AS py,
         d.value AS z
  FROM sc s JOIN dem d ON d.row = s.row AND d.col = s.col
),
nn AS (
  SELECT row, col, z FROM (
    SELECT t.row, t.col, p.z,
           row_number() OVER (
             PARTITION BY t.row, t.col
             ORDER BY ({grid.x_center_sql("t.col")} - p.px) * ({grid.x_center_sql("t.col")} - p.px)
                      + ({grid.y_center_sql("t.row")} - p.py) * ({grid.y_center_sql("t.row")} - p.py),
                      p.pid
           ) AS rk
    FROM dem t CROSS JOIN srcs p
  ) WHERE rk = 1
)
SELECT d.row, d.col, d.value - nn.z AS value
FROM dem d JOIN nn ON nn.row = d.row AND nn.col = d.col
"""


def stream_link_class(
    cells: DataFrame, grid: GridSpec, *, threshold: float, max_rounds: int = 64
) -> DataFrame:
    """StreamLinkClass (stream_network_analysis/stream_link_class.rs:
    289-402): per stream cell — 5 sink node (no downstream STREAM cell),
    4 link node (2+ stream inflows), 3 source node (no stream inflow),
    1 exterior link (its link contains a source node), 2 interior link.
    -> (row, col, value)."""
    sc, se = _stream_set(cells, grid, threshold)
    infl = se.groupBy(F.col("trow").alias("row"), F.col("tcol").alias("col")).agg(
        F.count(F.lit(1)).alias("n_in")
    )
    outs = se.select("row", "col").withColumn("__o", F.lit(1)).distinct()
    fr = _link_forest(cells, grid, threshold=threshold, max_rounds=max_rounds)
    base = (
        sc.join(infl, ["row", "col"], "left")
        .join(outs, ["row", "col"], "left")
        .join(fr.links, ["row", "col"])
    )
    n_in = F.coalesce(F.col("n_in"), F.lit(0))
    heads_per_link = base.groupBy("link_id").agg(
        F.max(F.when(n_in == 0, 1).otherwise(0)).alias("has_head")
    )
    j = base.join(heads_per_link, "link_id")
    cls = (
        F.when(F.col("__o").isNull(), 5.0)
        .when(n_in >= 2, 4.0)
        .when(n_in == 0, 3.0)
        .when(F.col("has_head") == 1, 1.0)
        .otherwise(2.0)
    )
    return j.select("row", "col", cls.alias("value"))


def stream_link_class_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float
) -> str:
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_LINK_CTES},
outs AS (SELECT DISTINCT row, col FROM se),
base AS (
  SELECT s.row, s.col, l.link_id,
         coalesce(i.n, 0) AS n_in,
         CASE WHEN o.row IS NOT NULL THEN 1 ELSE 0 END AS has_out
  FROM sc s
  JOIN linkcell l ON l.row = s.row AND l.col = s.col
  LEFT JOIN infl i ON i.trow = s.row AND i.tcol = s.col
  LEFT JOIN outs o ON o.row = s.row AND o.col = s.col
),
hh AS (SELECT link_id, max(CASE WHEN n_in = 0 THEN 1 ELSE 0 END) AS has_head
       FROM base GROUP BY link_id)
SELECT b.row, b.col,
       CASE WHEN b.has_out = 0 THEN 5.0
            WHEN b.n_in >= 2 THEN 4.0
            WHEN b.n_in = 0 THEN 3.0
            WHEN h.has_head = 1 THEN 1.0
            ELSE 2.0 END AS value
FROM base b JOIN hh h ON h.link_id = b.link_id
"""


def strahler_order_basins(
    cells: DataFrame, grid: GridSpec, *, threshold: float
) -> DataFrame:
    """StrahlerOrderBasins (hydro_analysis/strahler_order_basins.rs): each
    cell labeled with the Strahler order of the stream link its flow path
    first reaches (the Subbasins partition relabeled by order).
    -> (row, col, value)."""
    term, _sc = _stream_terminals(cells, grid, threshold)
    orders = strahler_order(cells, grid, threshold=threshold)
    return term.join(
        orders.select(
            F.col("row").alias("trow"), F.col("col").alias("tcol"),
            F.col("value"),
        ),
        ["trow", "tcol"],
    ).select("row", "col", "value")


def strahler_order_basins_oracle_sql(
    source_sql: str, grid: GridSpec, *, threshold: float, max_rounds: int = 16
) -> str:
    parts, prev = _strahler_cte_parts(max_rounds)
    body = ",\n".join(parts)
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_LINK_CTES},
{body},{_cut_walk_ctes()}
SELECT t.orow AS row, t.ocol AS col, CAST(o.ord AS DOUBLE) AS value
FROM tterm t
JOIN linkcell lc ON lc.row = t.trow AND lc.col = t.tcol
JOIN {prev} o ON o.link_id = lc.link_id
"""


def longest_flowpath(cells: DataFrame, grid: GridSpec) -> DataFrame:
    """LongestFlowpath (hydro_analysis/longest_flowpath.rs, scalar form):
    per D8 basin, the length of the longest flow path draining to the
    basin outlet. The reference emits the path as a vector feature with
    LENGTH attribute; this engine reports (basin_id, value = max length) —
    the attribute table of that layer.
    """
    from whitebox_tools_spark.operators.hydro import basins

    b = basins(cells, grid)
    fl = downslope_flowpath_length(cells, grid)
    return (
        b.select("row", "col", "basin_id")
        .join(fl, ["row", "col"])
        .groupBy("basin_id")
        .agg(F.max("value").alias("value"))
    )


def longest_flowpath_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    from whitebox_tools_spark.operators.hydro import basins_oracle_sql

    return f"""
WITH b AS ({basins_oracle_sql(source_sql, grid)}),
fl AS ({flowpath_length_oracle_sql(source_sql, grid)})
SELECT b.basin_id, max(fl.value) AS value
FROM b JOIN fl ON fl.row = b.row AND fl.col = b.col
GROUP BY b.basin_id
"""


def long_profile_from_points(
    cells: DataFrame, grid: GridSpec, seeds: DataFrame, *, max_iterations: int = 10_000
) -> DataFrame:
    """LongProfileFromPoints (stream_network_analysis/
    long_profile_from_points.rs): for each seed point's D8 flow path, the
    (cumulative distance from the seed, elevation) profile series.
    seeds: (seed_id, row, col). -> (seed_id, seq, dist, z)."""
    from whitebox_tools_spark.distributed import loop_checkpoint
    from whitebox_tools_spark.operators.hydro import _edge_drops

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    edges = _edge_drops(cells, grid).localCheckpoint(eager=True)
    state = (
        seeds.join(src, ["row", "col"])
        .select(
            "seed_id", "row", "col",
            F.lit(0).alias("seq"), F.lit(0.0).alias("dist"),
            F.col("value").alias("z"),
        )
        .localCheckpoint(eager=True)
    )
    out = state
    for _ in range(max_iterations):
        step = (
            state.join(edges, ["row", "col"])
            .join(
                src.select(
                    F.col("row").alias("trow"), F.col("col").alias("tcol"),
                    F.col("value").alias("tz"),
                ),
                ["trow", "tcol"],
            )
            .select(
                "seed_id",
                F.col("trow").alias("row"), F.col("tcol").alias("col"),
                (F.col("seq") + 1).alias("seq"),
                (F.col("dist") + F.col("len")).alias("dist"),
                F.col("tz").alias("z"),
            )
            .transform(loop_checkpoint)
        )
        if step.isEmpty():
            break
        out = loop_checkpoint(out.unionByName(step))
        state = step
    return out


def long_profile_from_points_oracle_sql(
    source_sql: str, grid: GridSpec, seeds: list[tuple[int, int, int]]
) -> str:
    from whitebox_tools_spark.operators.hydro import _fd_ctes

    seed_vals = ", ".join(f"({sid},{r},{c})" for sid, r, c in seeds)
    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
seeds AS (SELECT * FROM (VALUES {seed_vals}) t(seed_id, row, col)),
walk(seed_id, row, col, seq, dist) AS (
  SELECT s.seed_id, s.row, s.col, 0, CAST(0.0 AS DOUBLE)
  FROM seeds s JOIN cells c ON c.row = s.row AND c.col = s.col
  UNION
  SELECT w.seed_id, f.trow, f.tcol, w.seq + 1, w.dist + d.len
  FROM walk w
  JOIN fd f ON f.row = w.row AND f.col = w.col
  JOIN dirs d ON d.i = f.i
  JOIN cells c2 ON c2.row = f.trow AND c2.col = f.tcol
)
SELECT w.seed_id, w.seq, w.dist, c.value AS z
FROM walk w JOIN cells c ON c.row = w.row AND c.col = w.col
"""


def _cc_min_label(nodes: DataFrame, edges: DataFrame, *, max_iterations: int = 48) -> DataFrame:
    """Connected components over an explicit UNDIRECTED edge list by
    min-label propagation + pointer-doubling shortcut (same O(log diameter)
    trick as raster_vector.clump, but adjacency is caller-defined).
    nodes: (key,); edges: (key, key2). -> (key, label) with label = the
    component's minimum key."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    both = edges.unionByName(
        edges.select(F.col("key2").alias("key"), F.col("key").alias("key2"))
    ).localCheckpoint(eager=True)
    cur = nodes.select("key", F.col("key").alias("label")).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        nbr_min = (
            both.join(cur.select(F.col("key").alias("key2"), F.col("label").alias("l2")), "key2")
            .groupBy("key")
            .agg(F.min("l2").alias("nl"))
        )
        step = cur.join(nbr_min, "key", "left").select(
            "key", F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias("label")
        )
        for _s in range(2):  # label-of-label shortcut, doubling reach
            ref = step.select(F.col("key").alias("__k"), F.col("label").alias("__l"))
            step = (
                step.join(ref, step["label"] == ref["__k"], "left")
                .select(
                    "key",
                    F.least(F.col("label"), F.coalesce(F.col("__l"), F.col("label"))).alias("label"),
                )
            )
        step = step.localCheckpoint(eager=True)
        changed = (
            step.join(cur.select("key", F.col("label").alias("old")), "key")
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .isEmpty()
        )
        cur = step
        if changed:
            break
    _ = loop_checkpoint
    return cur


def hillslopes(cells: DataFrame, grid: GridSpec, *, threshold: float) -> DataFrame:
    """Hillslopes (hydro_analysis/hillslopes.rs:144): catchments draining
    to the left bank, right bank and channel head of every stream link.
    Stream cells output 0; every other draining cell gets its hillslope's
    id, ids densely numbered 1..n in raster scan order of each hillslope's
    minimum cell (the reference renumbers by scan order of first
    encounter — same partition, same ordering rule).

    Spark pipeline: pour ids on stream cells (link id; channel heads get
    their own id) -> each non-stream cell takes the pour id of the FIRST
    stream cell on its D8 path (_stream_terminals cut walk) -> connected
    components of equal pour id with 8-connectivity, where a diagonal step
    is blocked when BOTH flanking cardinal cells are stream cells (the
    reference's no-crossing-streams-on-diagonals rule) -> left and right
    banks fall apart as separate components. -> (row, col, value)."""
    from whitebox_tools_spark.distributed import with_global_seq

    term, sc = _stream_terminals(cells, grid, threshold)
    links = stream_link_identifier(cells, grid, threshold=threshold)
    _, s_edges = _stream_set(cells, grid, threshold)
    heads = sc.join(
        s_edges.select(F.col("trow").alias("row"), F.col("tcol").alias("col")).distinct(),
        ["row", "col"],
        "left_anti",
    )
    n_links = links.agg(F.max("link_id")).collect()[0][0] or 0
    head_ids = with_global_seq(
        heads.select(_key(F.col("row"), F.col("col")).alias("t")), ["t"], out_col="hid"
    ).select("t", (F.col("hid") + F.lit(int(n_links))).alias("pour"))
    pour = (
        links.join(
            F.broadcast(head_ids), _key(F.col("row"), F.col("col")) == F.col("t"), "left"
        )
        .select("row", "col", F.coalesce("pour", F.col("link_id")).alias("pour"))
        .localCheckpoint(eager=True)
    )

    lab = (
        term.join(
            pour.select(
                F.col("row").alias("trow"), F.col("col").alias("tcol"), "pour"
            ),
            ["trow", "tcol"],
        )
        .join(sc, ["row", "col"], "left_anti")  # stream cells handled below
        .select("row", "col", "pour")
        .localCheckpoint(eager=True)
    )

    # constrained 8-adjacency among equal-pour non-stream cells
    stream_flag = sc.select(
        F.col("row").alias("fr"), F.col("col").alias("fc"), F.lit(True).alias("is_s")
    )
    nbr = lab.select(
        F.col("row").alias("r2"), F.col("col").alias("c2"), F.col("pour").alias("p2")
    )
    pairs = None
    for dr, dc in [(0, 1), (1, 0), (1, -1), (1, 1)]:  # forward half-plane
        p = lab.join(
            nbr,
            (F.col("r2") == F.col("row") + dr)
            & (F.col("c2") == F.col("col") + dc)
            & (F.col("p2") == F.col("pour")),
        )
        if dr != 0 and dc != 0:
            f1 = stream_flag.withColumnRenamed("is_s", "s1")
            f2 = stream_flag.select(
                F.col("fr").alias("gr"), F.col("fc").alias("gc"),
                F.col("is_s").alias("s2"),
            )
            p = (
                p.join(
                    f1,
                    (F.col("fr") == F.col("row") + dr) & (F.col("fc") == F.col("col")),
                    "left",
                )
                .join(
                    f2,
                    (F.col("gr") == F.col("row")) & (F.col("gc") == F.col("col") + dc),
                    "left",
                )
                .filter(F.col("s1").isNull() | F.col("s2").isNull())
                .drop("fr", "fc", "gr", "gc", "s1", "s2")
            )
        e = p.select(
            _key(F.col("row"), F.col("col")).alias("key"),
            _key(F.col("r2"), F.col("c2")).alias("key2"),
        )
        pairs = e if pairs is None else pairs.unionByName(e)

    nodes = lab.select(_key(F.col("row"), F.col("col")).alias("key"))
    comp = _cc_min_label(nodes, pairs)
    ids = with_global_seq(
        comp.select(F.col("label").alias("t")).distinct(), ["t"], out_col="hs_id"
    )
    out_hs = comp.join(F.broadcast(ids), comp["label"] == ids["t"]).select(
        F.floor(F.col("key") / _BIG).cast("long").alias("row"),
        (F.col("key") % _BIG).alias("col"),
        F.col("hs_id").cast("double").alias("value"),
    )
    out_sc = sc.select("row", "col", F.lit(0.0).alias("value"))
    return out_hs.unionByName(out_sc)


def hillslopes_oracle_sql(source_sql: str, grid: GridSpec, *, threshold: float) -> str:
    """Independent DuckDB mirror: stream/link/cut-walk CTEs + recursive
    min-label closure over the constrained adjacency (diagonals blocked
    between two stream flanks), renumbered by scan order."""
    return f"""
WITH RECURSIVE {_stream_ctes(source_sql, grid, threshold)},{_LINK_CTES},{_cut_walk_ctes()},
maxlink AS (SELECT coalesce(max(link_id), 0) AS m FROM linkcell),
heads AS (
  SELECT s.row, s.col FROM sc s
  ANTI JOIN (SELECT DISTINCT trow, tcol FROM se) t
    ON t.trow = s.row AND t.tcol = s.col
),
headids AS (
  SELECT row, col,
         CAST(row_number() OVER (ORDER BY row * 2147483648 + col) AS BIGINT)
           + (SELECT m FROM maxlink) AS pour
  FROM heads
),
pour AS MATERIALIZED (
  SELECT l.row, l.col, coalesce(h.pour, l.link_id) AS pour
  FROM linkcell l LEFT JOIN headids h ON h.row = l.row AND h.col = l.col
),
lab AS MATERIALIZED (
  SELECT t.orow AS row, t.ocol AS col, p.pour
  FROM tterm t
  JOIN pour p ON p.row = t.trow AND p.col = t.tcol
  ANTI JOIN sc s ON s.row = t.orow AND s.col = t.ocol
),
offs(dr, dc) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)),
adjc AS MATERIALIZED (
  SELECT a.row AS ur, a.col AS uc, b.row AS vr, b.col AS vc
  FROM lab a CROSS JOIN offs o
  JOIN lab b ON b.row = a.row + o.dr AND b.col = a.col + o.dc
            AND b.pour = a.pour
  WHERE o.dr = 0 OR o.dc = 0
     OR NOT (
       EXISTS (SELECT 1 FROM sc s WHERE s.row = a.row + o.dr AND s.col = a.col)
       AND EXISTS (SELECT 1 FROM sc s WHERE s.row = a.row AND s.col = a.col + o.dc)
     )
),
r(row, col, label) AS (
  SELECT row, col, row * 2147483648 + col FROM lab
  UNION
  SELECT e.vr, e.vc, r.label
  FROM r JOIN adjc e ON e.ur = r.row AND e.uc = r.col
),
mlab AS (SELECT row, col, min(label) AS lab FROM r GROUP BY 1, 2),
comp AS (SELECT lab, min(row * 2147483648 + col) AS scan FROM mlab GROUP BY 1),
cids AS (SELECT lab, CAST(row_number() OVER (ORDER BY scan) AS BIGINT) AS hs_id FROM comp)
SELECT m.row, m.col, CAST(c.hs_id AS DOUBLE) AS value
FROM mlab m JOIN cids c ON c.lab = m.lab
UNION ALL
SELECT row, col, 0.0 AS value FROM sc
"""


def unnest_basins(cells: DataFrame, grid: GridSpec, pour: DataFrame) -> DataFrame:
    """UnnestBasins (hydro_analysis/unnest_basins.rs): full (un-truncated)
    watershed of every pour point, organized by nesting level. The
    reference writes one raster per level; this emits the union with the
    level column: one row per (cell, pour point on its D8 flow path).
    Within a level no two pour points share a path (a nested pair always
    differs in level), so each (cell, level) pair is unique — exactly the
    reference's per-level watershed rasters. nest_level(p) = number of
    pour points at-or-downstream of p on p's own path (1 = outermost).

    Spark plan: pour-set accumulation along the flow forest by pointer
    doubling — state (succ, array of pour keys met so far); each round
    concatenates the successor window's array and squares the successor,
    so the whole closure is O(log path) self-joins (arrays stay tiny:
    <= nesting depth). -> (row, col, nest_level, pour_id)."""
    from whitebox_tools_spark.distributed import loop_checkpoint

    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    edges = _flow_edges(cells, grid)
    pk = pour.select(_key(F.col("row"), F.col("col")).alias("pkey"), "pour_id")
    state = (
        src.join(edges, ["row", "col"], "left")
        .select(
            _key(F.col("row"), F.col("col")).alias("key"),
            F.coalesce(
                _key(F.col("trow"), F.col("tcol")),
                _key(F.col("row"), F.col("col")),
            ).alias("skey"),
        )
        .join(
            F.broadcast(pk.select(F.col("pkey"), F.lit(1).alias("__p"))),
            F.col("key") == F.col("pkey"),
            "left",
        )
        .select(
            "key", "skey",
            F.when(F.col("__p").isNotNull(), F.array(F.col("key")))
            .otherwise(F.array().cast("array<bigint>")).alias("arr"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(48):
        s2 = state.select(
            F.col("key").alias("k2"), F.col("skey").alias("s2"),
            F.col("arr").alias("a2"),
        )
        nxt = (
            state.join(s2, state["skey"] == s2["k2"])
            .select(
                "key",
                F.col("s2").alias("skey"),
                F.array_distinct(F.concat(F.col("arr"), F.col("a2"))).alias("arr"),
            )
            .transform(loop_checkpoint)
        )
        changed = (
            nxt.join(
                state.select(
                    "key", F.col("skey").alias("old"), F.col("arr").alias("aold")
                ),
                "key",
            )
            .filter(
                (F.col("skey") != F.col("old"))
                | (F.size("arr") != F.size("aold"))
            )
            .limit(1)
            .isEmpty()
        )
        state = nxt
        if changed:
            break
    hits = state.select(
        F.floor(F.col("key") / _BIG).cast("long").alias("row"),
        (F.col("key") % _BIG).alias("col"),
        F.explode(F.col("arr")).alias("pkey"),
    )
    lvl = state.select("key", F.size("arr").alias("nest_level")).join(
        F.broadcast(pk), F.col("key") == F.col("pkey")
    ).select("pkey", "pour_id", "nest_level")
    return hits.join(F.broadcast(lvl), "pkey").select(
        "row", "col", "nest_level", "pour_id"
    )


def unnest_basins_oracle_sql(source_sql: str, grid: GridSpec, pour_sql: str) -> str:
    """pour_sql: subquery text producing (prow, pcol, pour_id); it may
    reference the walk closure's fa (cells/walk CTEs are in scope)."""
    from whitebox_tools_spark.operators.hydro import _fd_ctes

    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
walk(orow, ocol, row, col) AS (
  SELECT row, col, row, col FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol
  FROM walk w JOIN fd f ON f.row = w.row AND f.col = w.col
),
fa AS MATERIALIZED (
  SELECT row, col, CAST(count(*) AS DOUBLE) AS value FROM walk GROUP BY 1, 2
),
pour AS ({pour_sql}),
hits AS (
  SELECT w.orow, w.ocol, p.pour_id, p.prow, p.pcol
  FROM walk w JOIN pour p ON p.prow = w.row AND p.pcol = w.col
),
lvl AS (
  SELECT p.pour_id, CAST(count(*) AS INT) AS nest_level
  FROM pour p
  JOIN walk w ON w.orow = p.prow AND w.ocol = p.pcol
  JOIN pour q ON q.prow = w.row AND q.pcol = w.col
  GROUP BY 1
)
SELECT h.orow AS row, h.ocol AS col, l.nest_level, h.pour_id
FROM hits h JOIN lvl l ON l.pour_id = h.pour_id
"""


def max_branch_length(cells: DataFrame, grid: GridSpec, *, max_doublings: int = 48) -> DataFrame:
    """MaxBranchLength (terrain_analysis/max_branch_length.rs:343-470,
    Gardner's Bmax): for each CARDINAL pair of flow cells, both flowpaths
    are traced to their first common cell (or their termini when the paths
    never meet); each cell's output is the max over its pairs of the
    distance from the cell to that meeting point. Cells with no downslope
    direction (pits) output 0, as in the reference (output reinitialized
    to 0, pairs require both dirs >= 0).

    Spark plan (O(log path) supersteps, all equi-joins):
      dist(u -> meet) = dpl(u) - dpl(meet) with dpl = downslope flowpath
      length, and meet = the pair's lowest common ancestor in the flow
      in-forest (paths are suffixes; same terminus <=> they meet).
      LCA for ALL pairs at once by binary lifting: jump tables
      J_k = 2^k-step successors built by pointer doubling, then the
      classic align-depths + co-descend, each phase a batched sequence of
      K equi-joins over the whole pair table. -> (row, col, value)."""
    src = cells.filter(F.col("value").isNotNull()).select("row", "col")
    edges = _flow_edges(cells, grid)
    dpl = downslope_flowpath_length(cells, grid).select(
        "row", "col", F.col("value").alias("dpl")
    )

    # jump tables J_k (key -> 2^k-th successor); terminals self-loop
    j0 = src.join(edges, ["row", "col"], "left").select(
        _key(F.col("row"), F.col("col")).alias("key"),
        F.coalesce(
            _key(F.col("trow"), F.col("tcol")), _key(F.col("row"), F.col("col"))
        ).alias("skey"),
    ).localCheckpoint(eager=True)
    jumps = [j0]
    # depth in steps to terminus: doubling alongside the jump tables
    depth = j0.select(
        "key",
        F.when(F.col("skey") != F.col("key"), F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("d"),
        "skey",
    ).localCheckpoint(eager=True)
    for _ in range(max_doublings):
        prev = jumps[-1]
        ref = prev.select(F.col("key").alias("k2"), F.col("skey").alias("s2"))
        nxt = prev.join(ref, prev["skey"] == ref["k2"]).select(
            "key", F.col("s2").alias("skey")
        ).localCheckpoint(eager=True)
        stable = (
            nxt.join(prev.select("key", F.col("skey").alias("old")), "key")
            .filter(F.col("skey") != F.col("old")).limit(1).isEmpty()
        )
        dref = depth.select(
            F.col("key").alias("k2"), F.col("d").alias("d2"), F.col("skey").alias("s2")
        )
        depth = depth.join(dref, depth["skey"] == dref["k2"]).select(
            "key", (F.col("d") + F.col("d2")).alias("d"), F.col("s2").alias("skey")
        ).localCheckpoint(eager=True)
        jumps.append(nxt)
        if stable:
            break
    K = len(jumps)
    term = jumps[-1].select("key", F.col("skey").alias("term"))
    info = (
        term.join(depth.select("key", "d"), "key")
        .join(
            dpl.select(_key(F.col("row"), F.col("col")).alias("key"), "dpl"), "key"
        )
        .localCheckpoint(eager=True)
    )

    # cardinal pairs among cells WITH a flow direction
    fdc = edges.select(_key(F.col("row"), F.col("col")).alias("key"))
    right = edges.select(_key(F.col("row"), F.col("col") + 1).alias("key"))
    down = edges.select(_key(F.col("row") + 1, F.col("col")).alias("key"))
    pairs = (
        edges.select(
            _key(F.col("row"), F.col("col")).alias("ka"),
            _key(F.col("row"), F.col("col") + 1).alias("kb"),
        ).join(fdc.withColumnRenamed("key", "kb"), "kb")
        .unionByName(
            edges.select(
                _key(F.col("row"), F.col("col")).alias("ka"),
                _key(F.col("row") + 1, F.col("col")).alias("kb"),
            ).join(fdc.withColumnRenamed("key", "kb"), "kb")
        )
    )
    _ = (right, down)
    ia = info.select(
        F.col("key").alias("ka"), F.col("term").alias("ta"),
        F.col("d").alias("da"), F.col("dpl").alias("pa"),
    )
    ib = info.select(
        F.col("key").alias("kb"), F.col("term").alias("tb"),
        F.col("d").alias("db"), F.col("dpl").alias("pb"),
    )
    p = pairs.join(ia, "ka").join(ib, "kb").localCheckpoint(eager=True)
    disjoint = p.filter(F.col("ta") != F.col("tb")).select(
        "ka", "kb", F.col("pa").alias("dist_a"), F.col("pb").alias("dist_b")
    )
    same = p.filter(F.col("ta") == F.col("tb")).select(
        "ka", "kb", "pa", "pb",
        F.col("ka").alias("a"), F.col("kb").alias("b"), "da", "db",
    )

    # phase 1: lift the deeper endpoint to equal depth (high bit first)
    for k in range(K - 1, -1, -1):
        jk = jumps[k]
        step = 1 << k
        same = (
            same.join(
                jk.select(F.col("key").alias("a"), F.col("skey").alias("ja")), "a", "left"
            )
            .join(
                jk.select(F.col("key").alias("b"), F.col("skey").alias("jb")), "b", "left"
            )
            .select(
                "ka", "kb", "pa", "pb",
                F.when(F.col("da") - F.col("db") >= step, F.col("ja"))
                .otherwise(F.col("a")).alias("a"),
                F.when(F.col("db") - F.col("da") >= step, F.col("jb"))
                .otherwise(F.col("b")).alias("b"),
                F.when(F.col("da") - F.col("db") >= step, F.col("da") - step)
                .otherwise(F.col("da")).alias("da"),
                F.when(F.col("db") - F.col("da") >= step, F.col("db") - step)
                .otherwise(F.col("db")).alias("db"),
            )
        )
    same = same.localCheckpoint(eager=True)
    # phase 2: co-descend while the 2^k ancestors differ
    for k in range(K - 1, -1, -1):
        jk = jumps[k]
        same = (
            same.join(
                jk.select(F.col("key").alias("a"), F.col("skey").alias("ja")), "a", "left"
            )
            .join(
                jk.select(F.col("key").alias("b"), F.col("skey").alias("jb")), "b", "left"
            )
            .select(
                "ka", "kb", "pa", "pb", "da", "db",
                F.when(
                    (F.col("a") != F.col("b")) & (F.col("ja") != F.col("jb")),
                    F.col("ja"),
                ).otherwise(F.col("a")).alias("a"),
                F.when(
                    (F.col("a") != F.col("b")) & (F.col("ja") != F.col("jb")),
                    F.col("jb"),
                ).otherwise(F.col("b")).alias("b"),
            )
        )
        if (k % 8) == 0:
            same = same.localCheckpoint(eager=True)
    lca = (
        same.join(
            j0.select(F.col("key").alias("a"), F.col("skey").alias("j1a")), "a", "left"
        )
        .select(
            "ka", "kb", "pa", "pb",
            F.when(F.col("a") == F.col("b"), F.col("a"))
            .otherwise(F.col("j1a")).alias("lca"),
        )
    )
    met = lca.join(
        info.select(F.col("key").alias("lca"), F.col("dpl").alias("pl")), "lca"
    ).select(
        "ka", "kb",
        (F.col("pa") - F.col("pl")).alias("dist_a"),
        (F.col("pb") - F.col("pl")).alias("dist_b"),
    )
    alld = met.unionByName(disjoint)
    per_cell = (
        alld.select(F.col("ka").alias("key"), F.col("dist_a").alias("dist"))
        .unionByName(alld.select(F.col("kb").alias("key"), F.col("dist_b").alias("dist")))
        .groupBy("key")
        .agg(F.max("dist").alias("value"))
    )
    return (
        src.select(_key(F.col("row"), F.col("col")).alias("key"))
        .join(per_cell, "key", "left")
        .select(
            F.floor(F.col("key") / _BIG).cast("long").alias("row"),
            (F.col("key") % _BIG).alias("col"),
            F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        )
    )


def max_branch_length_oracle_sql(source_sql: str, grid: GridSpec) -> str:
    """Independent mirror: recursive distance walk; per cardinal pair the
    meeting cell is the common path cell with the LARGEST remaining
    flowpath length (dpl decreases strictly downstream, so that is the
    FIRST common cell); Bmax = max over pairs of dpl(u) - dpl(meet),
    dpl(u) when the paths never meet."""
    from whitebox_tools_spark.operators.hydro import _fd_ctes

    return f"""
WITH RECURSIVE {_fd_ctes(source_sql, grid)},
wd(orow, ocol, row, col, dist) AS (
  SELECT row, col, row, col, CAST(0.0 AS DOUBLE) FROM cells
  UNION
  SELECT w.orow, w.ocol, f.trow, f.tcol, w.dist + d.len
  FROM wd w
  JOIN fd f ON f.row = w.row AND f.col = w.col
  JOIN dirs d ON d.i = f.i
),
dpl AS MATERIALIZED (
  SELECT orow AS row, ocol AS col, max(dist) AS dpl FROM wd GROUP BY 1, 2
),
fdc AS MATERIALIZED (SELECT row, col FROM fd),
pairs AS MATERIALIZED (
  SELECT a.row AS ar, a.col AS ac, a.row AS br, a.col + 1 AS bc
  FROM fdc a JOIN fdc b ON b.row = a.row AND b.col = a.col + 1
  UNION ALL
  SELECT a.row, a.col, a.row + 1, a.col
  FROM fdc a JOIN fdc b ON b.row = a.row + 1 AND b.col = a.col
),
meet AS (
  SELECT p.ar, p.ac, p.br, p.bc, max(dc.dpl) AS meet_dpl
  FROM pairs p
  JOIN wd wa ON wa.orow = p.ar AND wa.ocol = p.ac
  JOIN wd wb ON wb.orow = p.br AND wb.ocol = p.bc
             AND wb.row = wa.row AND wb.col = wa.col
  JOIN dpl dc ON dc.row = wa.row AND dc.col = wa.col
  GROUP BY 1, 2, 3, 4
),
pd AS (
  SELECT p.ar, p.ac, p.br, p.bc,
         da.dpl - coalesce(m.meet_dpl, 0.0) AS dist_a,
         db.dpl - coalesce(m.meet_dpl, 0.0) AS dist_b
  FROM pairs p
  LEFT JOIN meet m ON m.ar = p.ar AND m.ac = p.ac AND m.br = p.br AND m.bc = p.bc
  JOIN dpl da ON da.row = p.ar AND da.col = p.ac
  JOIN dpl db ON db.row = p.br AND db.col = p.bc
),
percell AS (
  SELECT row, col, max(dist) AS value FROM (
    SELECT ar AS row, ac AS col, dist_a AS dist FROM pd
    UNION ALL
    SELECT br, bc, dist_b FROM pd
  ) GROUP BY 1, 2
)
SELECT c.row, c.col, round(coalesce(p.value, 0.0), 6) AS value
FROM cells c LEFT JOIN percell p ON p.row = c.row AND p.col = c.col
"""
