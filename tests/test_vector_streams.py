"""Vector stream network plugins — distributed vs serial-transcription
equivalence on randomized tree networks + partition invariance."""

import pytest

from whitebox_tools_spark.operators.vector_streams import (
    correct_stream_vector_direction,
    csvd_reference,
    repair_reference,
    repair_stream_vector_topology,
    vector_stream_network_analysis,
    vsna_reference,
)


def _tree(seed, n_target=28):
    s = [seed]

    def nx():
        s[0] = (s[0] * 48271) % 2147483647
        return s[0]

    outlet = (500.0, 50.0)
    arcs = []
    used = {outlet}
    stack = [(outlet, 0)]
    while stack and len(arcs) < n_target:
        node, depth = stack.pop()
        if depth == 0:
            nch = 1
        elif depth <= 2:
            nch = 2
        elif depth < 7:
            r = nx() % 5
            nch = 2 if r < 2 else (1 if r < 4 else 0)
        else:
            nch = 0
        for c in range(nch):
            dx = (nx() % 161) - 80 + c * 37.0
            dy = 60 + nx() % 61
            child = (round(node[0] + dx, 3), round(node[1] + dy, 3))
            while child in used:
                child = (round(child[0] + 0.013, 3), child[1])
            used.add(child)
            mx = round((node[0] + child[0]) / 2 + ((nx() % 21) - 10) / 10.0, 3)
            my = round((node[1] + child[1]) / 2 + ((nx() % 21) - 10) / 10.0, 3)
            arcs.append([child, (mx, my), node])
            stack.append((child, depth + 1))
    return arcs


def _df(spark, polylines, parts=1):
    rows = [
        (i + 1, [float(p[0]) for p in pl], [float(p[1]) for p in pl])
        for i, pl in enumerate(polylines)
    ]
    df = spark.createDataFrame(rows, "arc_id long, xs array<double>, ys array<double>")
    return df.repartition(parts) if parts > 1 else df


@pytest.mark.parametrize("seed", [777, 31337])
def test_vsna_matches_serial_transcription(spark, seed):
    pls = _tree(seed)
    ref = vsna_reference(pls, length_scale=1e6)
    out = vector_stream_network_analysis(_df(spark, pls, parts=5), length_scale=1e6)
    got = {r.arc_id: r for r in out.collect()}
    assert len(got) == len(ref)
    for r in ref:
        g = got[r["arc_id"] + 1]
        assert g.shreve == r["shreve"], r["arc_id"]
        assert g.strahler == r["strahler"]
        assert g.horton == r["horton"]
        assert g.hack == r["hack"]
        assert g.outlet == r["outlet"]
        assert g.n_ds_nodes == r["n_ds_nodes"]
        assert g.is_outlet == r["is_outlet"]
        assert g.mainstem == r["mainstem"]
        assert g.trib_id == r["trib_id"] + 1
        assert g.ds_link_id == (r["ds_link_id"] if r["ds_link_id"] > 0 else -98)
        # integer-valued scaled sums: exact
        assert g.tucl == r["tucl"] / 1e6
        assert g.maxupsdist == r["maxupsdist"] / 1e6
        assert g.dist2mouth == r["dist2mouth"] / 1e6


def test_csvd_matches_serial_transcription(spark):
    pls = [
        list(reversed(pl)) if (i * 11) % 3 == 0 else pl
        for i, pl in enumerate(_tree(424242))
    ]
    rev = csvd_reference(pls, [(500.3, 50.2)], 1.0)
    outlets = spark.createDataFrame([(500.3, 50.2)], "x double, y double")
    out = correct_stream_vector_direction(_df(spark, pls, parts=4), outlets, snap_dist=1.0)
    got = {r.arc_id: r for r in out.collect()}
    assert sum(rev) > 0  # fixture actually reverses something
    for i, pl in enumerate(pls):
        g = got[i + 1]
        assert bool(g.was_reversed) == rev[i], i
        exp = list(reversed(pl)) if rev[i] else pl
        assert (g.xs[0], g.ys[0]) == exp[0]
        assert (g.xs[-1], g.ys[-1]) == exp[-1]


def test_repair_randomized_dangles(spark):
    # tree network with endpoints perturbed into under/overshoots
    pls = _tree(99991)
    s = [5]

    def nx():
        s[0] = (s[0] * 48271) % 2147483647
        return s[0]

    # perturb some upstream (first) endpoints AWAY from their junction
    # to create undershoot dangles
    pert = []
    for i, pl in enumerate(pls):
        pl = list(pl)
        if i % 5 == 2 and len(pl) >= 2:
            x0, y0 = pl[0]
            x1, y1 = pl[1]
            import math

            d = math.hypot(x1 - x0, y1 - y0)
            if d > 1.0:
                t = 0.25 / d
                pl[0] = (round(x0 + (x1 - x0) * t, 6), round(y0 + (y1 - y0) * t, 6))
        pert.append(pl)
    ref = repair_reference(pert, 0.5)
    out = repair_stream_vector_topology(_df(spark, pert, parts=3), snap_dist=0.5)

    def sig(pl):
        import math

        a, b = pl[0], pl[-1]
        if (b[0], b[1]) < (a[0], a[1]):
            a, b = b, a
        ln = sum(
            round(math.hypot(pl[i][0] - pl[i - 1][0], pl[i][1] - pl[i - 1][1]) * 1e6)
            for i in range(1, len(pl))
        )
        return (a, b, len(pl), ln)

    exp = sorted(sig(pl) for pl in ref)
    rows = out.collect()
    got = sorted(
        sig(list(zip(r.xs, r.ys))) for r in rows
    )
    assert got == exp


def test_repair_partition_invariance(spark):
    import __spark_entry__ as E

    pls = [pl for _, pl in E._REPAIR_NET]
    a = repair_stream_vector_topology(_df(spark, pls, parts=1), snap_dist=0.5)
    b = repair_stream_vector_topology(_df(spark, pls, parts=7), snap_dist=0.5)
    ka = sorted((r.arc_id, r.piece, tuple(r.xs), tuple(r.ys)) for r in a.collect())
    kb = sorted((r.arc_id, r.piece, tuple(r.xs), tuple(r.ys)) for r in b.collect())
    assert ka == kb


def test_lqr_closed_form_matches_matrix_solve(spark):
    """The engine's closed-form coefficients (2x2 Cramer + scalar
    divisions) equal LU-solving the reference's 5x5 Matrix5 (main.rs:
    312-323), and the expanded goodness-of-fit equals the reference's
    second-pass loop — verified on a numpy transcription per cell."""
    import numpy as np
    from whitebox_tools_spark.grid import GridSpec
    from whitebox_tools_spark.operators.plugins import local_quadratic_regression

    rng = np.random.RandomState(3)
    rows, cols, res = 9, 9, 5.0
    zgrid = np.round(rng.uniform(0, 500, (rows, cols)))
    cells = spark.createDataFrame(
        [(r, c, float(zgrid[r, c])) for r in range(rows) for c in range(cols)],
        "row long, col long, value double",
    )
    grid = GridSpec(west=0.0, north=45.0, res_x=res, res_y=res, rows=rows, cols=cols)
    out = {
        (r.row, r.col): r
        for r in local_quadratic_regression(cells, grid, filter_size=5).collect()
    }
    half = 2
    for (rr, cc) in [(4, 4), (2, 6), (0, 0)]:
        xs, ys, zs = [], [], []
        z0 = zgrid[rr, cc]
        for dy in range(-half, half + 1):
            for dx in range(-half, half + 1):
                r2, c2 = rr + dy, cc + dx
                if 0 <= r2 < rows and 0 <= c2 < cols:
                    xs.append(dx * res)
                    ys.append(dy * res)
                    zs.append(zgrid[r2, c2] - z0)
        xs, ys, zs = map(np.array, (xs, ys, zs))
        x2, x2y2, x4 = (xs**2).sum(), (xs**2 * ys**2).sum(), (xs**4).sum()
        A = np.array([
            [x4, x2y2, 0, 0, 0],
            [x2y2, x4, 0, 0, 0],
            [0, 0, x2y2, 0, 0],
            [0, 0, 0, x2, 0],
            [0, 0, 0, 0, x2],
        ])
        b = np.array([
            (zs * xs**2).sum(), (zs * ys**2).sum(), (zs * xs * ys).sum(),
            (zs * xs).sum(), (zs * ys).sum(),
        ])
        a_, b_, c_, d_, e_ = np.linalg.solve(A, b)
        g = out[(rr, cc)]
        assert abs(g.slope - np.arctan(np.hypot(d_, e_))) < 1e-9
        zp = a_ * xs**2 + b_ * ys**2 + c_ * xs * ys + d_ * xs + e_ * ys
        n = len(zs)
        noom = n * (zs * zp).sum() - zs.sum() * zp.sum()
        den = np.sqrt(n * (zs * zs).sum() - zs.sum() ** 2) * np.sqrt(
            n * (zp * zp).sum() - zp.sum() ** 2
        )
        r = 0.0 if noom == 0 or den == 0 else noom / den
        assert abs(g.goodness - r * r) < 1e-9
