"""Deterministic generator for the interleaved text+media geodoc table.

Shape fixed by BASELINE.json input_hint:
    doc_id: string
    spans:  array<struct<kind: string, text: string, media_ref: string,
                          offset: int>>
offset is the strictly-increasing position of the span within the doc; the
per-row invariant every pipeline must preserve is span-sequence equality on
(kind, text, media_ref, order).

Span kinds (FIXTURES.md section 1): point ("x y"), point_z ("x y z"),
polygon (";"-separated closed rings "x1 y1 x2 y2 ..."), attr
("name:type:value"), raster_tile ("row0 col0 nrows ncols v00 v01 ..."),
raster_meta ("west north res_x res_y rows cols nodata"), text (filler),
media ("" + media_ref).

Generation is fully vectorized (numpy + pyarrow) so sf-bench scale (10^7
docs) builds in seconds, in chunks, with a seeded PCG64 stream per chunk —
byte-reproducible regardless of chunking.

Occupancy is Zipf-skewed: 20% of point docs cluster around a few hotspot
centers so hot-cell handling is actually exercised (FIXTURES.md).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from whitebox_tools_spark.synth import WORLD, make_polygons

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])

N_HOTSPOTS = 5
HOT_FRACTION = 0.2
DUP_FRACTION = 0.05
EDGE_FRACTION = 0.01


def _fmt9(a: np.ndarray) -> np.ndarray:
    """9-decimal fixed formatting (FIXTURES.md point payload contract)."""
    return np.char.mod("%.9f", a)


def doc_points(doc_index: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The deterministic point for each doc index: (x, y, z).

    Mix: uniform over the world, a Zipf-hot 20% clustered near hotspots,
    5% exact duplicates of a neighbour doc's point (kNN tie exercise; equal
    z by construction), 1% snapped onto polygon edges (boundary-is-outside
    exercise). Pure function of (doc_index, seed).
    """
    rng = np.random.default_rng(seed)
    hot_centers = rng.uniform(0.1 * WORLD, 0.9 * WORLD, (N_HOTSPOTS, 2))
    polys = make_polygons(seed=7)

    n = len(doc_index)
    # per-doc streams keyed by doc_index for chunk independence
    u = np.random.default_rng(
        np.random.SeedSequence([seed, 1])
    )  # chunk-independent: use counter-based below
    # derive uniforms via Philox keyed on doc_index (counter-based => chunk independent)
    ph = np.random.Generator(np.random.Philox(key=seed))
    # Philox with per-doc counters: simplest chunk-independent trick — hash ints
    h1 = (doc_index * 2654435761 + 1) % (2**31)
    h2 = (doc_index * 2246822519 + 7) % (2**31)
    h3 = (doc_index * 3266489917 + 13) % (2**31)
    x = (h1 / 2**31) * WORLD
    y = (h2 / 2**31) * WORLD
    z = (h3 / 2**31) * 100.0

    sel = h3 % 100
    # hot cluster: ~20%
    hot = sel < int(HOT_FRACTION * 100)
    hs = h1 % N_HOTSPOTS
    x = np.where(hot, np.clip(hot_centers[hs, 0] + ((h2 % 1000) / 1000.0 - 0.5) * 20.0, 0, WORLD - 1e-9), x)
    y = np.where(hot, np.clip(hot_centers[hs, 1] + ((h1 % 1000) / 1000.0 - 0.5) * 20.0, 0, WORLD - 1e-9), y)
    # duplicates: ~5% copy the previous doc's point (and z)
    dup = (sel >= 20) & (sel < 20 + int(DUP_FRACTION * 100)) & (doc_index > 0)
    if dup.any():
        px, py, pz = doc_points(doc_index[dup] - 1, seed)
        x[dup], y[dup], z[dup] = px, py, pz
    # edge points: ~1% exactly on a polygon edge midpoint
    edge = sel >= 100 - int(EDGE_FRACTION * 100)
    if edge.any():
        mids = []
        for p in polys:
            xs, ys = np.asarray(p.parts[0].xs), np.asarray(p.parts[0].ys)
            mids.extend(((xs[i] + xs[i + 1]) / 2.0, (ys[i] + ys[i + 1]) / 2.0) for i in range(len(xs) - 1))
        mids = np.asarray(mids)
        mi = h2[edge] % len(mids)
        x[edge] = mids[mi, 0]
        y[edge] = mids[mi, 1]
    _ = (u, ph)
    return x, y, z


def _lorem(h: np.ndarray) -> np.ndarray:
    words = np.array(
        "terra firma datum cella punctum campus flumen mons vallis silva "
        "the a of and to in raster vector tile cell index join scan".split()
    )
    w = words[(h[:, None] // np.array([1, 7, 13, 19, 29])) % len(words)]
    out = w[:, 0]
    for k in range(1, w.shape[1]):
        out = np.char.add(np.char.add(out, " "), w[:, k])
    return out


def generate_chunk(start: int, count: int, seed: int) -> pa.Table:
    """Docs [start, start+count): each doc -> [text, point|point_z|polygon,
    media] spans (offsets 0,1,2); every 1000th doc carries a polygon span;
    fully vectorized (numpy -> pyarrow), no per-doc Python loop."""
    idx = np.arange(start, start + count, dtype=np.int64)
    doc_ids = np.char.mod("doc-%012d", idx)
    x, y, z = doc_points(idx, seed)
    h = (idx * 1103515245 + 12345) % (2**31)

    texts = _lorem(h)
    pts = np.char.add(np.char.add(_fmt9(x), " "), _fmt9(y))
    is_z = h % 10 == 3  # 10% point_z
    ptz = np.char.add(np.char.add(pts, " "), _fmt9(z))
    media = np.char.mod("media://img/%d", h)

    # span 1 payloads: point / point_z / polygon
    kind1 = np.where(is_z, "point_z", "point").astype(object)
    text1 = np.where(is_z, ptz, pts).astype(object)
    is_poly = idx % 1000 == 999
    if is_poly.any():
        polys = make_polygons(seed=7)
        ring_strs = [
            ";".join(
                " ".join(f"{vx!r} {vy!r}" for vx, vy in zip(part.xs, part.ys))
                for part in p.parts
            )
            for p in polys
        ]
        for i in np.nonzero(is_poly)[0]:
            kind1[i] = "polygon"
            text1[i] = ring_strs[int(idx[i]) % len(ring_strs)]

    # interleave the 3 base spans row-major: (doc0 s0, doc0 s1, doc0 s2, ...)
    kinds = np.empty(3 * count, dtype=object)
    texts_col = np.empty(3 * count, dtype=object)
    refs = np.empty(3 * count, dtype=object)
    kinds[0::3] = "text"; kinds[1::3] = kind1; kinds[2::3] = "media"
    texts_col[0::3] = texts; texts_col[1::3] = text1; texts_col[2::3] = ""
    refs[0::3] = ""; refs[1::3] = ""; refs[2::3] = media
    offsets = np.tile(np.array([0, 1, 2], dtype=np.int32), count)

    # extra spans for a sparse subset (FIXTURES.md kinds: attr on polygon
    # docs; raster_meta + raster_tile on every 10,000th doc). Assembled via
    # per-doc splicing over only the affected docs.
    extras: dict[int, list[tuple[str, str, str]]] = {}
    for i in np.nonzero(is_poly)[0]:
        extras.setdefault(int(i), []).append(
            ("attr", f"category:int:{int(h[i]) % 7}", "")
        )
    is_raster = idx % 10000 == 17
    for i in np.nonzero(is_raster)[0]:
        r0, c0 = int(h[i]) % 190, int((h[i] // 7)) % 190
        vals = " ".join(f"{(int(h[i]) * (j + 1)) % 1000 / 10.0!r}" for j in range(4))
        extras.setdefault(int(i), []).append(
            ("raster_meta", "0.0 1000.0 5.0 5.0 200 200 -32768.0", "")
        )
        extras.setdefault(int(i), []).append(
            ("raster_tile", f"{r0} {c0} 2 2 {vals}", "")
        )

    if not extras:
        list_offsets = np.arange(0, 3 * count + 1, 3, dtype=np.int32)
    else:
        n_extra = np.zeros(count, dtype=np.int32)
        for i, ex in extras.items():
            n_extra[i] = len(ex)
        per_doc = 3 + n_extra
        list_offsets = np.concatenate([[0], np.cumsum(per_doc)]).astype(np.int32)
        total = int(list_offsets[-1])
        k2 = np.empty(total, dtype=object)
        t2 = np.empty(total, dtype=object)
        r2 = np.empty(total, dtype=object)
        o2 = np.empty(total, dtype=np.int32)
        base_pos = list_offsets[:-1]
        for j in range(3):
            k2[base_pos + j] = kinds[j::3]
            t2[base_pos + j] = texts_col[j::3]
            r2[base_pos + j] = refs[j::3]
            o2[base_pos + j] = j
        for i, ex in extras.items():
            for e, (kk, tt, rr) in enumerate(ex):
                pos = base_pos[i] + 3 + e
                k2[pos], t2[pos], r2[pos], o2[pos] = kk, tt, rr, 3 + e
        kinds, texts_col, refs, offsets = k2, t2, r2, o2

    spans = pa.ListArray.from_arrays(
        pa.array(list_offsets),
        pa.StructArray.from_arrays(
            [
                pa.array(kinds, type=pa.string()),
                pa.array(texts_col, type=pa.string()),
                pa.array(refs, type=pa.string()),
                pa.array(offsets, type=pa.int32()),
            ],
            fields=list(SPAN_TYPE),
        ),
    )
    return pa.Table.from_arrays([pa.array(doc_ids), spans], schema=SCHEMA)


def write_geodocs(path: str, n_docs: int, *, seed: int = 42, chunk: int = 250_000) -> str:
    """Write the geodoc parquet dataset (idempotent: skips if complete)."""
    os.makedirs(path, exist_ok=True)
    marker = os.path.join(path, "_DONE")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == f"v2:{n_docs}:{seed}":
                return path
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            os.remove(os.path.join(path, f))
    part = 0
    for start in range(0, n_docs, chunk):
        tbl = generate_chunk(start, min(chunk, n_docs - start), seed)
        pq.write_table(tbl, os.path.join(path, f"part-{part:05d}.parquet"))
        part += 1
    with open(marker, "w") as fh:
        fh.write(f"v2:{n_docs}:{seed}")
    return path
