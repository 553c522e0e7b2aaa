"""Seeded input generator for the perfbench workloads.

Every geometry is written here as (E)WKB or WKT with numpy and the standard
library only, never through ``polars_st_spark``, and every expected answer
is closed-form numpy arithmetic on the generating parameters (rectangle and
regular n-gon areas and perimeters, point-in-rectangle and bbox-overlap
counts, k-nearest distances by brute force). The same seed always gives the
same tables.

World layout: geometries sit in unit cells of a 1000 x 1000 grid. A holed
n-gon never leaves its cell, so a window aligned to cell edges splits n-gons
into "fully inside" and "fully outside" and every clip has a closed form.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

WORLD = 1000
# st_clip_by_rect window of the scalar_mix fused chain, on cell edges
CLIP_WINDOW = (250.0, 250.0, 750.0, 750.0)
SIMPLIFY_TOL = 1e-3
QUAD_SEGS = 8


# ---------------------------------------------------------------------------
# Encoders
# ---------------------------------------------------------------------------

def _group_bytes(wkb_type: int, ring_npts: tuple, xy: np.ndarray,
                 big_endian: bool = False) -> np.ndarray:
    """(m, L) uint8 WKB of m rows sharing one structure: LineString
    (wkb_type 2, one chain) or Polygon (3, rings of ``ring_npts`` points).
    ``xy`` is (m, sum(ring_npts), 2)."""
    e = ">" if big_endian else "<"
    fields = [("bo", "u1"), ("type", e + "u4")]
    if wkb_type == 3:
        fields.append(("nrings", e + "u4"))
    for i, npts in enumerate(ring_npts):
        fields += [(f"n{i}", e + "u4"), (f"r{i}", e + "f8", (npts, 2))]
    rec = np.zeros(len(xy), dtype=np.dtype(fields))
    rec["bo"] = 0 if big_endian else 1
    rec["type"] = wkb_type
    if wkb_type == 3:
        rec["nrings"] = len(ring_npts)
    start = 0
    for i, npts in enumerate(ring_npts):
        rec[f"n{i}"] = npts
        rec[f"r{i}"] = xy[:, start:start + npts]
        start += npts
    return rec.view(np.uint8).reshape(len(xy), rec.dtype.itemsize)


def _binary_array(n: int, groups: list) -> pa.Array:
    """Assemble a pyarrow binary array of n rows from ``(rows, bytes)``
    groups, where ``bytes`` is the (len(rows), L) matrix of those rows."""
    lengths = np.zeros(n, dtype=np.int64)
    for rows, mat in groups:
        lengths[rows] = mat.shape[1]
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    buf = np.zeros(int(offsets[-1]), dtype=np.uint8)
    for rows, mat in groups:
        buf[offsets[rows][:, None] + np.arange(mat.shape[1])] = mat
    return pa.Array.from_buffers(
        pa.large_binary(), n,
        [None, pa.py_buffer(offsets), pa.py_buffer(buf)]).cast(pa.binary())


def _rect_xy(x0, y0, x1, y1) -> np.ndarray:
    """(m, 5, 2) closed rectangle rings, counter-clockwise from (x0, y0)."""
    xs = np.stack([x0, x1, x1, x0, x0], axis=1)
    ys = np.stack([y0, y0, y1, y1, y0], axis=1)
    return np.stack([xs, ys], axis=2)


def _ngon_xy(cx, cy, r, phase, n: int) -> np.ndarray:
    """(m, n+1, 2) closed regular n-gon rings (counter-clockwise)."""
    ang = phase[:, None] + 2.0 * math.pi * np.arange(n)[None, :] / n
    ring = np.stack([cx[:, None] + r[:, None] * np.cos(ang),
                     cy[:, None] + r[:, None] * np.sin(ang)], axis=2)
    return np.concatenate([ring, ring[:, :1]], axis=1)


def _square_hole_xy(cx, cy, h) -> np.ndarray:
    """(m, 5, 2) closed axis-aligned square rings of half-side h (clockwise)."""
    return _rect_xy(cx - h, cy - h, cx + h, cy + h)[:, ::-1]


def _diamond_xy(cx, cy, d) -> np.ndarray:
    z = np.zeros_like(cx)
    xs = np.stack([cx + d, cx + z, cx - d, cx + z, cx + d], axis=1)
    ys = np.stack([cy + z, cy + d, cy + z, cy - d, cy + z], axis=1)
    return np.stack([xs, ys], axis=2)


def _ring_wkt(ring: np.ndarray) -> str:
    return "(" + ", ".join(f"{x!r} {y!r}" for x, y in ring.tolist()) + ")"


# ---------------------------------------------------------------------------
# Closed forms
# ---------------------------------------------------------------------------

def ngon_area(n, r):
    return 0.5 * n * r * r * np.sin(2.0 * math.pi / n)


def ngon_perimeter(n, r):
    return 2.0 * n * r * np.sin(math.pi / n)


def line_buffer_area(a, b, d):
    """Flat-cap, round-join buffer of the L path (0,0)->(a,0)->(a,b) at
    distance d < min(a, b): two strips, minus their d x d overlap on the
    inner side of the corner, plus the outer quarter disc drawn with
    QUAD_SEGS chords."""
    wedge = 0.5 * d * d * QUAD_SEGS * math.sin(0.5 * math.pi / QUAD_SEGS)
    return 2.0 * d * (a + b) - d * d + wedge


def _rng(seed: int) -> np.random.Generator:
    # any integer seed, negative ones included, names one stream
    return np.random.default_rng(seed & (2**64 - 1))


def _overlap_1d(lo, hi, wlo, whi):
    return np.clip(np.minimum(hi, whi) - np.maximum(lo, wlo), 0.0, None)


# ---------------------------------------------------------------------------
# scalar_mix
# ---------------------------------------------------------------------------

KIND_RECT, KIND_NGON, KIND_LINE, KIND_ODD = 0, 1, 2, 3


@dataclass
class ScalarMix:
    table: pa.Table          # the one geometry column plus check columns
    partitions: int
    rows_per_kind: dict      # kind name -> row count


def scalar_mix(seed: int, partitions: int, batch: int, rect_batches: int,
               ngon_batches: int, line_batches: int, odd_rows: int) -> ScalarMix:
    """One geometry column ``g`` laid out, in every partition, as contiguous
    batch-aligned blocks: axis rectangles (uniform lane), holed regular
    n-gons with 5..12 shell vertices (ragged CSR lane), L-shaped linestrings
    (lineal lane), and finally ``odd_rows`` big-endian rectangles, which no
    batch lane parses, in a batch of their own.

    Columns besides ``g``: ``kind``; ``g2`` a translated copy (near or far);
    ``diamond`` a per-row convex clipper (inside, around or apart);
    ``d`` a buffer distance; ``g_le`` the little-endian encoding of odd
    rows (null elsewhere); and the expected answers ``e_*``."""
    rng = _rng(seed)
    per_part = (rect_batches + ngon_batches + line_batches) * batch + odd_rows
    n = per_part * partitions
    kind = np.empty(n, dtype=np.int8)
    blocks = [(KIND_RECT, rect_batches * batch), (KIND_NGON, ngon_batches * batch),
              (KIND_LINE, line_batches * batch), (KIND_ODD, odd_rows)]
    pos = 0
    for _ in range(partitions):
        for k, cnt in blocks:
            kind[pos:pos + cnt] = k
            pos += cnt

    ci = rng.integers(0, WORLD, n).astype(np.float64)
    cj = rng.integers(0, WORLD, n).astype(np.float64)
    near = rng.random(n) < 0.5            # translated copy overlaps?
    dmode = rng.integers(0, 3, n)         # diamond: 0 inside, 1 around, 2 apart
    e_area = np.zeros(n)
    e_len = np.zeros(n)
    e_hull = np.zeros(n)
    e_clip = np.zeros(n)
    e_inter = np.zeros(n)
    e_buf = np.zeros(n)
    dist = np.zeros(n)
    g_groups, g2_groups, dia_groups, le_groups = [], [], [], []
    wx0, wy0, wx1, wy1 = CLIP_WINDOW

    for k in (KIND_RECT, KIND_ODD):
        rows = np.nonzero(kind == k)[0]
        m = len(rows)
        x0 = ci[rows] + rng.uniform(0.0, 0.5, m)
        y0 = cj[rows] + rng.uniform(0.0, 0.5, m)
        w = rng.uniform(0.1, 0.9, m)
        h = rng.uniform(0.1, 0.9, m)
        x1, y1 = x0 + w, y0 + h
        be = k == KIND_ODD
        g_groups.append((rows, _group_bytes(3, (5,), _rect_xy(x0, y0, x1, y1), be)))
        sx = np.where(near[rows], 0.3 * w, 3.0)
        sy = np.where(near[rows], 0.3 * h, 0.0)
        g2_groups.append((rows, _group_bytes(
            3, (5,), _rect_xy(x0 + sx, y0 + sy, x1 + sx, y1 + sy), be)))
        if be:
            le_groups.append((rows, _group_bytes(3, (5,), _rect_xy(x0, y0, x1, y1))))
        e_area[rows] = w * h
        e_len[rows] = 2.0 * (w + h)
        e_hull[rows] = w * h
        e_clip[rows] = _overlap_1d(x0, x1, wx0, wx1) * _overlap_1d(y0, y1, wy0, wy1)
        cx, cy = x0 + 0.5 * w, y0 + 0.5 * h
        dm = dmode[rows]
        d = np.select([dm == 0, dm == 1], [0.4 * np.minimum(w, h), 0.6 * (w + h)], 0.2)
        dia_groups.append((rows, _group_bytes(
            3, (5,), _diamond_xy(cx + np.where(dm == 2, 2.0, 0.0), cy, d))))
        e_inter[rows] = np.select([dm == 0, dm == 1], [2.0 * d * d, w * h], 0.0)

    rows_all = np.nonzero(kind == KIND_NGON)[0]
    nv = rng.integers(5, 13, len(rows_all))
    r_all = rng.uniform(0.2, 0.45, len(rows_all))
    ph_all = rng.uniform(0.0, 2.0 * math.pi, len(rows_all))
    for nn in range(5, 13):
        sel = nv == nn
        rows, r, ph = rows_all[sel], r_all[sel], ph_all[sel]
        cx, cy = ci[rows] + 0.5, cj[rows] + 0.5
        h = 0.3 * r
        def holed(sx, sy):
            return np.concatenate([_ngon_xy(cx + sx, cy + sy, r, ph, nn),
                                   _square_hole_xy(cx + sx, cy + sy, h)], axis=1)
        g_groups.append((rows, _group_bytes(3, (nn + 1, 5), holed(0.0, 0.0))))
        sx = np.where(near[rows], 0.3 * r, 3.0)
        sy = np.where(near[rows], 0.2 * r, 0.0)
        g2_groups.append((rows, _group_bytes(3, (nn + 1, 5), holed(sx, sy))))
        shell = ngon_area(nn, r)
        e_area[rows] = shell - 4.0 * h * h
        e_len[rows] = ngon_perimeter(nn, r) + 8.0 * h
        e_hull[rows] = shell
        inside = (ci[rows] >= wx0) & (ci[rows] < wx1) & (cj[rows] >= wy0) & (cj[rows] < wy1)
        e_clip[rows] = np.where(inside, e_area[rows], 0.0)
        dm = dmode[rows]
        # inside: 0.7 r < inradius r*cos(pi/5); the hole corners sit at
        # |x|+|y| = 0.6 r < 0.7 r. around: 1.5 r > r*sqrt(2)
        d = np.select([dm == 0, dm == 1], [0.7 * r, 1.5 * r], 0.2)
        dia_groups.append((rows, _group_bytes(
            3, (5,), _diamond_xy(cx + np.where(dm == 2, 2.0, 0.0), cy, d))))
        e_inter[rows] = np.select([dm == 0, dm == 1],
                                  [2.0 * d * d - 4.0 * h * h, e_area[rows]], 0.0)

    rows = np.nonzero(kind == KIND_LINE)[0]
    m = len(rows)
    x0 = ci[rows] + rng.uniform(0.0, 0.15, m)
    y0 = cj[rows] + rng.uniform(0.0, 0.15, m)
    a = rng.uniform(0.2, 0.8, m)
    b = rng.uniform(0.2, 0.8, m)
    d = rng.uniform(0.02, 0.1, m)

    def lpath(sx, sy):
        return np.stack([np.stack([x0 + sx, x0 + a + sx, x0 + a + sx], axis=1),
                         np.stack([y0 + sy, y0 + sy, y0 + b + sy], axis=1)], axis=2)

    g_groups.append((rows, _group_bytes(2, (3,), lpath(0.0, 0.0))))
    g2_groups.append((rows, _group_bytes(2, (3,), lpath(
        np.where(near[rows], 0.3 * a, 3.0), np.where(near[rows], 0.3 * b, 0.0)))))
    dia_groups.append((rows, _group_bytes(3, (5,), _diamond_xy(x0, y0, d))))
    e_len[rows] = a + b
    e_hull[rows] = 0.5 * a * b
    e_buf[rows] = line_buffer_area(a, b, d)
    dist[rows] = d

    le = _binary_array(n, le_groups)
    le_mask = pa.array(kind != KIND_ODD)
    table = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "kind": pa.array(kind),
        "g": _binary_array(n, g_groups),
        "g2": _binary_array(n, g2_groups),
        "diamond": _binary_array(n, dia_groups),
        "g_le": pc.if_else(le_mask, pa.scalar(None, pa.binary()), le),
        "d": pa.array(dist),
        "near": pa.array(near),
        "e_area": pa.array(e_area),
        "e_len": pa.array(e_len),
        "e_hull": pa.array(e_hull),
        "e_clip": pa.array(e_clip),
        "e_inter": pa.array(e_inter),
        "e_buf": pa.array(e_buf),
    })
    counts = {name: int((kind == k).sum()) for name, k in
              (("rect", KIND_RECT), ("ngon", KIND_NGON), ("line", KIND_LINE),
               ("odd", KIND_ODD))}
    return ScalarMix(table, partitions, counts)


# ---------------------------------------------------------------------------
# join_agg
# ---------------------------------------------------------------------------

@dataclass
class JoinAgg:
    parcels: pa.Table        # chained rectangles: grp (small), hot (4 groups)
    zones: pa.Table          # a few large rectangles
    points: pa.Table         # uniform points
    nations: pa.Table        # rectangles sharing a core, per nation
    kites: pa.Table          # overlapping kites that tile regular n-gons
    near_left: pa.Table      # points for the k-nearest join
    near_right: pa.Table
    expect: dict             # query name -> expected aggregate values


def _rect_table(x0, y0, x1, y1, **cols) -> pa.Table:
    rows = np.arange(len(x0))
    g = _binary_array(len(x0), [(rows, _group_bytes(3, (5,), _rect_xy(x0, y0, x1, y1)))])
    return pa.table({**{k: pa.array(v) for k, v in cols.items()}, "geom": g})


def _point_table(x, y, **cols) -> pa.Table:
    rows = np.arange(len(x))
    rec = np.zeros(len(x), dtype=np.dtype([("bo", "u1"), ("type", "<u4"), ("xy", "<f8", (2,))]))
    rec["bo"] = 1
    rec["type"] = 1
    rec["xy"] = np.stack([x, y], axis=1)
    mat = rec.view(np.uint8).reshape(len(x), rec.dtype.itemsize)
    g = _binary_array(len(x), [(rows, mat)])
    return pa.table({**{k: pa.array(v) for k, v in cols.items()}, "geom": g})


def join_agg(seed: int, groups: int, chain: tuple, zones: int, points: int,
             nations: int, per_nation: int, kite_groups: int,
             near_left: int, near_right: int, k: int) -> JoinAgg:
    """Inputs of the multi-stage operators, all closed-form:

    - ``parcels``: ``groups`` chains of ``chain[0]..chain[1]`` overlapping
      axis rectangles; a chain's union is one rectangle. Chains sit in
      disjoint slots, so the union of a hot key (``grp % 4``) is the sum of
      its chains.
    - ``zones`` x ``parcels`` intersects iff their boxes overlap;
      ``points`` within ``zones`` iff strictly inside the rectangle.
    - ``nations``: rectangles that all contain their nation's core point;
      their intersection is the rectangle of the tightest sides.
    - ``kites``: for a regular n-gon, the n quadrilaterals (centre, v_i,
      v_i+1, v_i+2); they overlap pairwise and their union is the n-gon.
    - ``near_*``: the k nearest right points of every left point, by brute
      force."""
    rng = _rng(seed)
    exp = {}

    # parcels: group g owns the slot at (g % 40, g // 40), 25 x 25 each
    cnt = rng.integers(chain[0], chain[1] + 1, groups)
    gid = np.repeat(np.arange(groups), cnt)
    kpos = np.concatenate([np.arange(c) for c in cnt]).astype(np.float64)
    step = rng.uniform(0.3, 0.6, groups)
    width = step + rng.uniform(0.1, 0.4, groups)
    height = rng.uniform(0.5, 2.0, groups)
    ox = (np.arange(groups) % 40) * 25.0 + rng.uniform(0.0, 2.0, groups)
    oy = (np.arange(groups) // 40) * 25.0 + rng.uniform(0.0, 20.0, groups)
    px0 = ox[gid] + kpos * step[gid]
    py0 = oy[gid]
    px1, py1 = px0 + width[gid], py0 + height[gid]
    parcels = _rect_table(px0, py0, px1, py1, pid=np.arange(len(gid)), grp=gid,
                          hot=gid % 4)
    chain_area = ((cnt - 1) * step + width) * height
    exp["union_small"] = (groups, float(chain_area.sum()))
    exp["union_hot"] = (min(groups, 4), float(chain_area.sum()))

    # zones: large rectangles over the parcel extent
    ext_x, ext_y = 1000.0, 25.0 * (groups // 40 + 1)
    zx0 = rng.uniform(0.0, ext_x - 60.0, zones)
    zy0 = rng.uniform(0.0, max(ext_y - 20.0, 1.0), zones)
    zx1, zy1 = zx0 + rng.uniform(10.0, 60.0, zones), zy0 + rng.uniform(5.0, 20.0, zones)
    ztab = _rect_table(zx0, zy0, zx1, zy1, zid=np.arange(zones))
    overlap = ((px0[:, None] <= zx1[None, :]) & (zx0[None, :] <= px1[:, None])
               & (py0[:, None] <= zy1[None, :]) & (zy0[None, :] <= py1[:, None]))
    exp["filter_pairs"] = (int(overlap.sum()),)

    # points within zones
    qx = rng.uniform(0.0, ext_x, points)
    qy = rng.uniform(0.0, ext_y, points)
    ptab = _point_table(qx, qy, qid=np.arange(points))
    inside = ((qx[:, None] > zx0[None, :]) & (qx[:, None] < zx1[None, :])
              & (qy[:, None] > zy0[None, :]) & (qy[:, None] < zy1[None, :]))
    exp["sjoin_within"] = (int(inside.sum()),)

    # nations: per_nation rectangles around a core point
    nid = np.repeat(np.arange(nations), per_nation)
    cx = (np.arange(nations) % 5) * 40.0 + 20.0
    cy = (np.arange(nations) // 5) * 40.0 + 20.0
    sides = rng.uniform(0.5, 2.0, (4, len(nid)))
    ntab = _rect_table(cx[nid] - sides[0], cy[nid] - sides[1],
                       cx[nid] + sides[2], cy[nid] + sides[3], nation=nid)
    tight = [np.minimum.reduceat(s, np.arange(0, len(nid), per_nation)) for s in sides]
    exp["intersection_all"] = (nations, float(((tight[0] + tight[2]) * (tight[1] + tight[3])).sum()))

    # kites: one regular n-gon per group, split into n overlapping kites
    kn = rng.integers(5, 13, kite_groups)
    kr = rng.uniform(2.0, 8.0, kite_groups)
    kph = rng.uniform(0.0, 2.0 * math.pi, kite_groups)
    kcx = np.arange(kite_groups) * 20.0 + 10.0
    kcy = np.full(kite_groups, 10.0)
    kid, kxy = [], []
    for g in range(kite_groups):
        n = int(kn[g])
        ring = _ngon_xy(kcx[g:g + 1], kcy[g:g + 1], kr[g:g + 1], kph[g:g + 1], n)[0, :n]
        c = np.array([kcx[g], kcy[g]])
        for i in range(n):
            kxy.append([c, ring[i], ring[(i + 1) % n], ring[(i + 2) % n], c])
            kid.append(g)
    kxy = np.asarray(kxy)
    rows = np.arange(len(kid))
    ktab = pa.table({"kgrp": pa.array(np.asarray(kid, dtype=np.int64)),
                     "geom": _binary_array(len(kid), [(rows, _group_bytes(3, (5,), kxy))])})
    exp["union_overlay"] = (kite_groups, float(ngon_area(kn, kr).sum()))

    # k nearest
    lx, ly = rng.uniform(0.0, 200.0, near_left), rng.uniform(0.0, 200.0, near_left)
    rx, ry = rng.uniform(0.0, 200.0, near_right), rng.uniform(0.0, 200.0, near_right)
    dist = np.hypot(lx[:, None] - rx[None, :], ly[:, None] - ry[None, :])
    knn = np.sort(dist, axis=1)[:, :k]
    exp["nearest"] = (near_left * k, float(knn.sum()))
    return JoinAgg(parcels, ztab, ptab, ntab, ktab,
                   _point_table(lx, ly, lid=np.arange(near_left)),
                   _point_table(rx, ry, rid=np.arange(near_right)), exp)


# ---------------------------------------------------------------------------
# ingest_export
# ---------------------------------------------------------------------------

INGEST_WINDOW = (100.0, 100.0, 400.0, 600.0)


@dataclass
class Ingest:
    table: pa.Table          # wkt text + the expected little-endian WKB
    expect: dict


def ingest(seed: int, rows: int) -> Ingest:
    """A WKT text column of axis rectangles and holed regular n-gons (half
    each), with coordinates written by ``repr`` so text -> double is exact
    and the parsed WKB must equal the ``wkb`` column byte for byte."""
    rng = _rng(seed)
    ci = rng.integers(0, WORLD, rows).astype(np.float64)
    cj = rng.integers(0, WORLD, rows).astype(np.float64)
    is_rect = rng.random(rows) < 0.5
    area = np.zeros(rows)
    bbox = np.zeros((rows, 4))
    wkt = [None] * rows
    groups = []

    rr = np.nonzero(is_rect)[0]
    x0 = ci[rr] + rng.uniform(0.0, 0.5, len(rr))
    y0 = cj[rr] + rng.uniform(0.0, 0.5, len(rr))
    x1 = x0 + rng.uniform(0.1, 0.5, len(rr))
    y1 = y0 + rng.uniform(0.1, 0.5, len(rr))
    xy = _rect_xy(x0, y0, x1, y1)
    groups.append((rr, _group_bytes(3, (5,), xy)))
    area[rr] = (x1 - x0) * (y1 - y0)
    bbox[rr] = np.stack([x0, y0, x1, y1], axis=1)
    for i, ring in zip(rr.tolist(), xy):
        wkt[i] = "POLYGON (" + _ring_wkt(ring) + ")"

    nr = np.nonzero(~is_rect)[0]
    nv = rng.integers(5, 13, len(nr))
    r = rng.uniform(0.2, 0.45, len(nr))
    ph = rng.uniform(0.0, 2.0 * math.pi, len(nr))
    for nn in range(5, 13):
        sel = nv == nn
        rows_n = nr[sel]
        cx, cy = ci[rows_n] + 0.5, cj[rows_n] + 0.5
        shell = _ngon_xy(cx, cy, r[sel], ph[sel], nn)
        hole = _square_hole_xy(cx, cy, 0.3 * r[sel])
        groups.append((rows_n, _group_bytes(3, (nn + 1, 5), np.concatenate([shell, hole], axis=1))))
        area[rows_n] = ngon_area(nn, r[sel]) - 4.0 * (0.3 * r[sel]) ** 2
        bbox[rows_n] = np.stack([shell[:, :, 0].min(1), shell[:, :, 1].min(1),
                                 shell[:, :, 0].max(1), shell[:, :, 1].max(1)], axis=1)
        for i, s, h in zip(rows_n.tolist(), shell, hole):
            wkt[i] = "POLYGON (" + _ring_wkt(s) + ", " + _ring_wkt(h) + ")"

    wx0, wy0, wx1, wy1 = INGEST_WINDOW
    hit = (bbox[:, 0] <= wx1) & (bbox[:, 2] >= wx0) & (bbox[:, 1] <= wy1) & (bbox[:, 3] >= wy0)
    first_x = np.frombuffer(b"".join(_first_x_bytes(m) for _, m in groups), dtype="<f8")
    table = pa.table({"fid": pa.array(np.arange(rows, dtype=np.int64)),
                      "wkt": pa.array(wkt, pa.string()),
                      "wkb": _binary_array(rows, groups)})
    return Ingest(table, {
        "rows": rows,
        "window": (int(hit.sum()), float(area[hit].sum())),
        "first_x_sum": float(first_x.sum()),
    })


def _first_x_bytes(mat: np.ndarray) -> bytes:
    """First shell x of every Polygon row (bytes 13..21 of its WKB)."""
    return np.ascontiguousarray(mat[:, 13:21]).tobytes()
