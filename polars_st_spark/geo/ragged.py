"""Vectorized kernels over RAGGED geometry batches (CSR layout).

``geo/arrowwkb.uniform_batch_pa`` only fires when every row in a batch has
the identical byte layout. Real mixed data — polygons with holes, varying
vertex counts, multiparts — would otherwise fall back to per-row Python
object decode + scalar compute. This module removes that cost for every
WKB family. Its scanners read only Arrow buffers (``arrowwkb.flat_views``):
the public parsers take a pyarrow Binary array or a bytes sequence, which
is converted to Arrow once (``arrowwkb.as_binary_array``).

- :func:`parse_polygonal` / :func:`parse_lineal` /
  :func:`parse_multipoints` parse a whole batch into a CSR (offset-array)
  layout — one flat ``(N, 2)`` coordinate matrix plus int offset arrays —
  via pure numpy scans: headers and structure words are gathered with
  fancy-indexed u32 reads over the Arrow data buffer, the Python loop
  runs per NESTING LEVEL (part index × ring index, across all rows at
  once), and all coordinates arrive in one byte-gather + f8 view.
  Pathological nesting drops to per-ring loop parsers with identical
  output (parity-tested field by field).
- :func:`area`, :func:`perimeter`, :func:`length`, :func:`bounds`,
  :func:`centroid`, :func:`centroid_lines`, :func:`centroid_points`
  compute per-row results with reduceat/bincount segment arithmetic.
- :func:`locate_points` / :func:`distance_to_points` /
  :func:`distance_lines_to_points` are row-paired point×geometry kernels
  matching geo/predicates semantics exactly (same _EPS boundary tolerance
  and arithmetic order).
- :func:`splice_coords` rebuilds per-row EWKB from transformed coordinates
  by overwriting only the coordinate byte spans (headers/counts reused
  verbatim) — the affine family and st_to_srid ride on it.
- :func:`split_families` partitions a mixed batch by family from a
  vectorized header scan so each subset takes its own kernel.

The formulas mirror geo/algos.py exactly (shoelace translated to each
ring's first vertex, |shell| − Σ|holes|, sign-normalized centroid moments)
so the ragged paths and the scalar fallback agree to float round-off — and
bitwise for the coordinate-splice transforms.
"""

from __future__ import annotations

import struct

import numpy as np

from polars_st_spark.geo.arrowwkb import as_binary_array, flat_views
from polars_st_spark.geo.types import GeometryType

__all__ = [
    "RaggedPolygons",
    "RaggedLines",
    "parse_polygonal",
    "parse_lineal",
    "area",
    "perimeter",
    "length",
    "bounds",
    "centroid",
    "locate_points",
    "locate_points_multi",
    "pairs_intersect",
    "pairs_crosses",
    "pairs_distance",
    "pairs_overlaps",
    "pairs_relate",
    "pairs_touches",
    "pairs_within",
    "polys_intersect",
]

_Z_FLAG = 0x80000000
_M_FLAG = 0x40000000
_SRID_FLAG = 0x20000000
_EPS = 1e-12  # matches geo/predicates._EPS


class RaggedPolygons:
    """CSR batch of (Multi)Polygon rows.

    coords      (N, 2) float64 — all vertices, rows contiguous
    row_start   (n+1,) int64   — coord offset of each row
    ring_start  (R+1,) int64   — coord offset of each ring
    ring_row    (R,)   int64   — owning row per ring
    ring_part   (R,)   int64   — owning polygon part (global id) per ring
    ring_hole   (R,)   bool    — True for interior rings
    part_row    (P,)   int64   — owning row per polygon part
    null_mask   (n,)   bool    — True where the input row was null
    srid        int            — uniform SRID (srid_uniform False if mixed)
    """

    __slots__ = (
        "n", "coords", "row_start", "ring_start", "ring_row", "ring_part",
        "ring_hole", "part_row", "null_mask", "srid", "srid_uniform", "spans",
        "child_srid", "_bbox",
    )


class RaggedLines:
    """CSR batch of (Multi)LineString rows: chains instead of rings."""

    __slots__ = ("n", "coords", "row_start", "chain_start", "chain_row",
                 "null_mask", "srid", "srid_uniform", "spans", "child_srid",
                 "_bbox")


def _header(buf: bytes):
    """(base, has_z, has_m, srid, data_pos) or None for non-LE/odd layouts."""
    if len(buf) < 9 or buf[0] != 1:
        return None
    (raw,) = struct.unpack_from("<I", buf, 1)
    has_z = bool(raw & _Z_FLAG)
    has_m = bool(raw & _M_FLAG)
    has_srid = bool(raw & _SRID_FLAG)
    base = raw & 0x0FFFFFFF
    if base >= 1000:  # ISO codes carry dimension — bail to generic path
        return None
    pos = 5
    srid = 0
    if has_srid:
        (srid,) = struct.unpack_from("<I", buf, 5)
        pos = 9
    return base, has_z, has_m, srid, pos


def parse_polygonal(bufs) -> RaggedPolygons | None:
    """Parse a batch (pyarrow Binary array or bytes sequence) where every
    non-null row is a little-endian 2-D Polygon or MultiPolygon. Returns
    None (caller falls back) otherwise.

    Both single-part and MultiPolygon batches go through
    :func:`_parse_polygonal_vec` — structure words gathered with numpy, one
    fancy-indexed byte gather for all coordinates, Python iteration bounded
    by the maximum nesting; pathological nesting uses the per-ring loop."""
    arr = as_binary_array(bufs)
    fast = _parse_polygonal_vec(arr)
    if fast is not _LOOP:
        return fast
    return _parse_polygonal_loop(arr.to_pylist())


parse_polygonal_pa = parse_polygonal  # the r11 name, still called by perfbench

_LOOP = object()  # sentinel: shape unsupported by the vectorized scan


def _scan_view(bufs):
    """(u8, starts, lens, null_mask, n): the vectorized scanners' input,
    read off the Arrow buffers. starts/lens cover ALL slots; null slots are
    excluded via null_mask."""
    arr = as_binary_array(bufs)
    offs, u8, valid = flat_views(arr)
    n = len(arr)
    null_mask = ~valid if valid is not None else np.zeros(n, dtype=bool)
    return u8, offs[:-1], np.diff(offs), null_mask, n


def _u32_at(u8: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Gather little-endian u32 values at arbitrary byte offsets."""
    o = off.astype(np.int64)
    return (
        u8[o].astype(np.int64)
        | (u8[o + 1].astype(np.int64) << 8)
        | (u8[o + 2].astype(np.int64) << 16)
        | (u8[o + 3].astype(np.int64) << 24)
    )


def _gather_rings(u8, order_off, order_npts):
    """One coordinate matrix from per-ring byte spans (ragged arange +
    a single fancy-index byte gather, then an f8 view).

    The index array IS the parse cost (profiled: arange+repeat dominate
    the whole polygonal parse), so it is built in int32 whenever the
    data buffer allows — Arrow batches are far below 2 GiB, and the
    int64 branch keeps correctness for pathological callers."""
    sizes = order_npts * 16
    total = int(sizes.sum())
    if not total:
        return np.empty((0, 2))
    starts = np.cumsum(sizes) - sizes
    # one repeat: arange relative to each ring's flat start, shifted to its
    # byte offset in the data buffer
    shift = order_off - starts
    if total < 2**31 and len(u8) < 2**31:
        idx = np.arange(total, dtype=np.int32)
        idx += np.repeat(shift.astype(np.int32), sizes)
    else:
        idx = np.arange(total, dtype=np.int64)
        idx += np.repeat(shift, sizes)
    return u8[idx].view("<f8").reshape(-1, 2)


def _parse_polygonal_vec(bufs):
    """Vectorized scan for 2-D Polygon / MultiPolygon batches: a two-level
    loop over (part index, ring index) — each level gathers structure words
    for ALL active rows at once, so Python iteration count is bounded by the
    batch's maximum nesting, not its total ring count. Returns a
    RaggedPolygons, None (not polygonal at all), or _LOOP (pathological
    nesting / malformed edge — use the per-ring loop)."""
    u8, starts_all, lens_all, null_mask, n = _scan_view(bufs)
    nn = np.nonzero(~null_mask)[0]
    if not len(nn):
        rp = RaggedPolygons()
        rp.n = n
        rp.coords = np.empty((0, 2))
        rp.row_start = np.zeros(n + 1, dtype=np.int64)
        rp.ring_start = np.zeros(1, dtype=np.int64)
        rp.ring_row = np.zeros(0, dtype=np.int64)
        rp.ring_part = np.zeros(0, dtype=np.int64)
        rp.ring_hole = np.zeros(0, dtype=bool)
        rp.part_row = np.zeros(0, dtype=np.int64)
        rp.null_mask = null_mask
        rp.srid = 0
        rp.srid_uniform = True
        rp.spans = _EMPTY_SPANS
        rp.child_srid = False
        return rp
    starts = starts_all[nn]
    lens = lens_all[nn]
    if lens.min() < 9:
        return None
    row_end = starts + lens
    if (u8[starts] != 1).any():
        return None
    typ = _u32_at(u8, starts + 1)
    if ((typ & (_Z_FLAG | _M_FLAG)) != 0).any():
        return None
    base = typ & 0x0FFFFFFF
    if (base >= 1000).any():
        return None
    is_poly = base == GeometryType.Polygon
    is_multi = base == GeometryType.MultiPolygon
    if not (is_poly | is_multi).all():
        return None
    has_srid = (typ & _SRID_FLAG) != 0
    srid_raw = _u32_at(u8, starts + 5)  # only meaningful where has_srid
    srids = np.where(has_srid, srid_raw, 0)
    srid0 = int(srids[0])
    srid_uniform = bool((srids == srid0).all())
    data_pos = starts + 5 + 4 * has_srid.astype(np.int64)
    if (data_pos + 4 > row_end).any():
        return _LOOP
    m = len(nn)
    # per-row part counts: MultiPolygon reads its nparts word, Polygon = 1
    nparts = np.where(is_multi, _u32_at(u8, data_pos), 1)
    max_p = int(nparts.max()) if m else 0
    if max_p > 64:  # pathological structure: per-ring loop is O(total rings)
        return _LOOP
    pos = data_pos + np.where(is_multi, 4, 0)  # per-row scan cursor
    child_srid = False
    pl_row, pl_p = [], []                      # part records (empty parts too)
    rv_row, rv_p, rv_r, rv_off, rv_n = [], [], [], [], []
    for p in range(max_p):
        act = nparts > p
        ca = act & is_multi  # rows with a child header to consume
        if ca.any():
            pca = pos[ca]
            if (pca + 5 > row_end[ca]).any():
                return _LOOP
            if (u8[pca] != 1).any():
                return _LOOP
            craw = _u32_at(u8, pca + 1)
            if ((craw & (_Z_FLAG | _M_FLAG)) != 0).any():
                return _LOOP
            if ((craw & 0x0FFFFFFF) != GeometryType.Polygon).any():
                return _LOOP
            csrid = (craw & _SRID_FLAG) != 0
            if csrid.any():
                child_srid = True
            adv = np.zeros(m, dtype=np.int64)
            adv[ca] = 5 + 4 * csrid.astype(np.int64)
            pos = pos + adv
        if (pos[act] + 4 > row_end[act]).any():
            return _LOOP
        nr = np.zeros(m, dtype=np.int64)
        nr[act] = _u32_at(u8, pos[act])
        pos = pos + np.where(act, 4, 0)
        pl_row.append(np.nonzero(act)[0])
        pl_p.append(np.full(int(act.sum()), p, dtype=np.int64))
        max_r = int(nr.max())
        if max_r > 256:
            return _LOOP
        for r in range(max_r):
            sub = nr > r
            ps = pos[sub]
            if (ps + 4 > row_end[sub]).any():
                return _LOOP
            npts = _u32_at(u8, ps)
            if (ps + 4 + 16 * npts > row_end[sub]).any():
                return _LOOP
            rv_row.append(np.nonzero(sub)[0])
            rv_p.append(np.full(int(sub.sum()), p, dtype=np.int64))
            rv_r.append(np.full(int(sub.sum()), r, dtype=np.int64))
            rv_off.append(ps + 4)
            rv_n.append(npts)
            adv = np.zeros(m, dtype=np.int64)
            adv[sub] = 4 + 16 * npts
            pos = pos + adv
    zero = np.zeros(0, dtype=np.int64)
    if rv_row:
        rrow = np.concatenate(rv_row)   # index into nn (non-null ordinal)
        rpp = np.concatenate(rv_p)
        rj = np.concatenate(rv_r)
        roff = np.concatenate(rv_off)   # data-buffer coord byte offset
        rn = np.concatenate(rv_n)
        order = np.lexsort((rj, rpp, rrow))  # row-major, parts then rings
        rrow, rpp, rj = rrow[order], rpp[order], rj[order]
        roff, rn = roff[order], rn[order]
    else:
        rrow = rpp = rj = roff = rn = zero
    prow = np.concatenate(pl_row) if pl_row else zero
    ppp = np.concatenate(pl_p) if pl_p else zero
    porder = np.lexsort((ppp, prow))
    prow, ppp = prow[porder], ppp[porder]
    coords = _gather_rings(u8, roff, rn)
    abs_row = nn[rrow] if len(rrow) else rrow  # batch row index per ring
    rp = RaggedPolygons()
    rp.n = n
    rp.coords = coords
    per_row_pts = np.zeros(n, dtype=np.int64)
    if len(rrow):
        np.add.at(per_row_pts, abs_row, rn)
    rp.row_start = np.zeros(n + 1, dtype=np.int64)
    rp.row_start[1:] = np.cumsum(per_row_pts)
    rp.ring_start = np.concatenate([[0], np.cumsum(rn)]).astype(np.int64)
    rp.ring_row = abs_row.astype(np.int64)
    # global part ids in (row, part) order; empty parts keep their id
    # (loop parity)
    K = max_p + 1
    rp.part_row = nn[prow].astype(np.int64) if len(prow) else zero
    rp.ring_part = np.searchsorted(prow * K + ppp, rrow * K + rpp).astype(np.int64)
    rp.ring_hole = rj > 0
    rp.null_mask = null_mask
    rp.srid = srid0
    rp.srid_uniform = srid_uniform
    rp.child_srid = child_srid
    if len(rrow):
        rp.spans = (abs_row, roff - starts[rrow], rp.ring_start[:-1], rn)
    else:
        rp.spans = _EMPTY_SPANS
    return rp


_EMPTY_SPANS = (np.zeros(0, dtype=np.int64),) * 4


def _parse_polygonal_loop(bufs) -> RaggedPolygons | None:
    """Per-ring loop parse (handles MultiPolygons; structure words read in
    Python, coordinates bulk-copied per ring)."""
    rows = [None if b is None else bytes(b) for b in bufs]
    n = len(rows)
    coord_parts: list[np.ndarray] = []
    row_start = np.zeros(n + 1, dtype=np.int64)
    ring_counts: list[int] = []
    ring_row: list[int] = []
    ring_part: list[int] = []
    ring_hole: list[bool] = []
    part_row: list[int] = []
    spans: list[tuple[int, int, int, int]] = []  # (row, byte_off, flat_off, npts)
    null_mask = np.zeros(n, dtype=bool)
    srid0 = None
    srid_uniform = True
    child_srid = False
    total = 0
    part_id = 0
    unpack = struct.unpack_from
    for i, buf in enumerate(rows):
        if buf is None:
            null_mask[i] = True
            row_start[i + 1] = total
            continue
        h = _header(buf)
        if h is None:
            return None
        base, has_z, has_m, srid, pos = h
        if has_z or has_m:
            return None
        if srid0 is None:
            srid0 = srid
        elif srid != srid0:
            srid_uniform = False
        if base == GeometryType.Polygon:
            polys = [(buf, pos)]
        elif base == GeometryType.MultiPolygon:
            (nparts,) = unpack("<I", buf, pos)
            pos += 4
            polys = []
            for _ in range(nparts):
                # child header starts at pos: endian byte + type word (+srid)
                if buf[pos] != 1:
                    return None
                (craw,) = unpack("<I", buf, pos + 1)
                if craw & (_Z_FLAG | _M_FLAG):
                    return None
                if craw & _SRID_FLAG:
                    child_srid = True
                cpos = pos + 5 + (4 if craw & _SRID_FLAG else 0)
                if (craw & 0x0FFFFFFF) != GeometryType.Polygon:
                    return None
                polys.append((buf, cpos))
                # advance past this polygon
                (nrings,) = unpack("<I", buf, cpos)
                p = cpos + 4
                for _ in range(nrings):
                    (npts,) = unpack("<I", buf, p)
                    p += 4 + 16 * npts
                pos = p
        else:
            return None
        for buf_, p0 in polys:
            (nrings,) = unpack("<I", buf_, p0)
            p = p0 + 4
            part_row.append(i)
            for r in range(nrings):
                (npts,) = unpack("<I", buf_, p)
                p += 4
                if len(buf_) < p + 16 * npts:
                    return None
                coord_parts.append(np.frombuffer(buf_, dtype="<f8", count=2 * npts, offset=p))
                spans.append((i, p, total, npts))
                p += 16 * npts
                ring_counts.append(npts)
                ring_row.append(i)
                ring_part.append(part_id)
                ring_hole.append(r > 0)
                total += npts
            part_id += 1
        row_start[i + 1] = total
    rp = RaggedPolygons()
    rp.n = n
    rp.coords = (
        np.concatenate(coord_parts).astype(np.float64).reshape(-1, 2)
        if coord_parts else np.empty((0, 2))
    )
    rp.row_start = row_start
    rp.ring_start = np.concatenate([[0], np.cumsum(np.array(ring_counts, dtype=np.int64))]).astype(np.int64)
    rp.ring_row = np.array(ring_row, dtype=np.int64)
    rp.ring_part = np.array(ring_part, dtype=np.int64)
    rp.ring_hole = np.array(ring_hole, dtype=bool)
    rp.part_row = np.array(part_row, dtype=np.int64)
    rp.null_mask = null_mask
    rp.srid = srid0 or 0
    rp.srid_uniform = srid_uniform
    rp.spans = _spans_arrays(spans)
    rp.child_srid = child_srid
    return rp


def parse_lineal(bufs) -> RaggedLines | None:
    """Parse a batch (pyarrow Binary array or bytes sequence) where every
    non-null row is a little-endian 2-D LineString or MultiLineString via
    the vectorized scan (per-chain loop for pathological nesting)."""
    arr = as_binary_array(bufs)
    fast = _parse_lineal_vec(arr)
    if fast is not _LOOP:
        return fast
    return _parse_lineal_loop(arr.to_pylist())


def _parse_lineal_vec(bufs):
    """Vectorized scan for 2-D LineString / MultiLineString batches — one
    level per chain index, gathered for all active rows at once (same
    two-level trick as the polygonal scan, without the ring dimension)."""
    u8, starts_all, lens_all, null_mask, n = _scan_view(bufs)
    nn = np.nonzero(~null_mask)[0]
    rl = RaggedLines()
    rl.n = n
    rl.null_mask = null_mask
    rl.child_srid = False
    if not len(nn):
        rl.coords = np.empty((0, 2))
        rl.row_start = np.zeros(n + 1, dtype=np.int64)
        rl.chain_start = np.zeros(1, dtype=np.int64)
        rl.chain_row = np.zeros(0, dtype=np.int64)
        rl.srid = 0
        rl.srid_uniform = True
        rl.spans = _EMPTY_SPANS
        return rl
    starts = starts_all[nn]
    lens = lens_all[nn]
    if lens.min() < 9:
        return None
    row_end = starts + lens
    if (u8[starts] != 1).any():
        return None
    typ = _u32_at(u8, starts + 1)
    if ((typ & (_Z_FLAG | _M_FLAG)) != 0).any():
        return None
    base = typ & 0x0FFFFFFF
    if (base >= 1000).any():
        return None
    is_line = base == GeometryType.LineString
    is_multi = base == GeometryType.MultiLineString
    if not (is_line | is_multi).all():
        return None
    has_srid = (typ & _SRID_FLAG) != 0
    srids = np.where(has_srid, _u32_at(u8, starts + 5), 0)
    srid0 = int(srids[0])
    data_pos = starts + 5 + 4 * has_srid.astype(np.int64)
    if (data_pos + 4 > row_end).any():
        return _LOOP
    m = len(nn)
    nchains = np.where(is_multi, _u32_at(u8, data_pos), 1)
    max_c = int(nchains.max()) if m else 0
    if max_c > 256:  # pathological: the per-chain loop is O(total chains)
        return _LOOP
    pos = data_pos + np.where(is_multi, 4, 0)
    child_srid = False
    cv_row, cv_c, cv_off, cv_n = [], [], [], []
    for c in range(max_c):
        act = nchains > c
        ca = act & is_multi
        if ca.any():
            pca = pos[ca]
            if (pca + 5 > row_end[ca]).any():
                return _LOOP
            if (u8[pca] != 1).any():
                return _LOOP
            craw = _u32_at(u8, pca + 1)
            if ((craw & (_Z_FLAG | _M_FLAG)) != 0).any():
                return _LOOP
            if ((craw & 0x0FFFFFFF) != GeometryType.LineString).any():
                return _LOOP
            csrid = (craw & _SRID_FLAG) != 0
            if csrid.any():
                child_srid = True
            adv = np.zeros(m, dtype=np.int64)
            adv[ca] = 5 + 4 * csrid.astype(np.int64)
            pos = pos + adv
        pa = pos[act]
        if (pa + 4 > row_end[act]).any():
            return _LOOP
        np_c = _u32_at(u8, pa)
        if (pa + 4 + 16 * np_c > row_end[act]).any():
            return _LOOP
        cv_row.append(np.nonzero(act)[0])
        cv_c.append(np.full(int(act.sum()), c, dtype=np.int64))
        cv_off.append(pa + 4)
        cv_n.append(np_c)
        adv = np.zeros(m, dtype=np.int64)
        adv[act] = 4 + 16 * np_c
        pos = pos + adv
    zero = np.zeros(0, dtype=np.int64)
    if cv_row:
        crow = np.concatenate(cv_row)
        cc = np.concatenate(cv_c)
        coff = np.concatenate(cv_off)
        cn = np.concatenate(cv_n)
        order = np.lexsort((cc, crow))
        crow, coff, cn = crow[order], coff[order], cn[order]
    else:
        crow = coff = cn = zero
    rl.coords = _gather_rings(u8, coff, cn)
    abs_row = nn[crow] if len(crow) else crow
    rl.row_start = np.zeros(n + 1, dtype=np.int64)
    per_row = np.zeros(n, dtype=np.int64)
    if len(crow):
        np.add.at(per_row, abs_row, cn)
    rl.row_start[1:] = np.cumsum(per_row)
    rl.chain_start = np.concatenate([[0], np.cumsum(cn)]).astype(np.int64)
    rl.chain_row = abs_row.astype(np.int64)
    rl.srid = srid0
    rl.srid_uniform = bool((srids == srid0).all())
    rl.child_srid = child_srid
    if len(crow):
        rl.spans = (abs_row, coff - starts[crow], rl.chain_start[:-1], cn)
    else:
        rl.spans = _EMPTY_SPANS
    return rl


def _parse_lineal_loop(bufs) -> RaggedLines | None:
    """Per-chain loop parse (handles MultiLineStrings)."""
    rows = [None if b is None else bytes(b) for b in bufs]
    n = len(rows)
    coord_parts: list[np.ndarray] = []
    row_start = np.zeros(n + 1, dtype=np.int64)
    chain_counts: list[int] = []
    chain_row: list[int] = []
    spans: list[tuple[int, int, int, int]] = []  # (row, byte_off, flat_off, npts)
    null_mask = np.zeros(n, dtype=bool)
    srid0 = None
    srid_uniform = True
    child_srid = False
    total = 0
    unpack = struct.unpack_from
    for i, buf in enumerate(rows):
        if buf is None:
            null_mask[i] = True
            row_start[i + 1] = total
            continue
        h = _header(buf)
        if h is None:
            return None
        base, has_z, has_m, srid, pos = h
        if has_z or has_m:
            return None
        if srid0 is None:
            srid0 = srid
        elif srid != srid0:
            srid_uniform = False
        if base == GeometryType.LineString:
            chains = [pos]
        elif base == GeometryType.MultiLineString:
            (nparts,) = unpack("<I", buf, pos)
            pos += 4
            chains = []
            for _ in range(nparts):
                if buf[pos] != 1:
                    return None
                (craw,) = unpack("<I", buf, pos + 1)
                if craw & (_Z_FLAG | _M_FLAG) or (craw & 0x0FFFFFFF) != GeometryType.LineString:
                    return None
                if craw & _SRID_FLAG:
                    child_srid = True
                cpos = pos + 5 + (4 if craw & _SRID_FLAG else 0)
                chains.append(cpos)
                (npts,) = unpack("<I", buf, cpos)
                pos = cpos + 4 + 16 * npts
        else:
            return None
        for p0 in chains:
            (npts,) = unpack("<I", buf, p0)
            p = p0 + 4
            if len(buf) < p + 16 * npts:
                return None
            coord_parts.append(np.frombuffer(buf, dtype="<f8", count=2 * npts, offset=p))
            spans.append((i, p, total, npts))
            chain_counts.append(npts)
            chain_row.append(i)
            total += npts
        row_start[i + 1] = total
    rl = RaggedLines()
    rl.n = n
    rl.coords = (
        np.concatenate(coord_parts).astype(np.float64).reshape(-1, 2)
        if coord_parts else np.empty((0, 2))
    )
    rl.row_start = row_start
    rl.chain_start = np.concatenate([[0], np.cumsum(np.array(chain_counts, dtype=np.int64))]).astype(np.int64)
    rl.chain_row = np.array(chain_row, dtype=np.int64)
    rl.null_mask = null_mask
    rl.srid = srid0 or 0
    rl.srid_uniform = srid_uniform
    rl.spans = _spans_arrays(spans)
    rl.child_srid = child_srid
    return rl


# ----------------------------------------------------------------------
# Segment scaffolding shared by the measures
# ----------------------------------------------------------------------

def _ring_scaffold(rp: RaggedPolygons):
    """Per-segment arrays for ring arithmetic.

    Returns (rel_x, rel_y, seg_valid, ring_id_per_vertex). Coordinates are
    translated to each ring's FIRST vertex — the same cancellation fix as
    algos._ring_signed_area, and it makes the closing segment's cross term
    identically zero, so open [start, end-1) segment sums equal the closed
    shoelace."""
    R = len(rp.ring_row)
    counts = np.diff(rp.ring_start)
    rid = np.repeat(np.arange(R, dtype=np.int64), counts)
    firsts = rp.coords[rp.ring_start[:-1]] if R else np.empty((0, 2))
    rel = rp.coords - firsts[rid] if R else rp.coords
    seg_valid = rid[:-1] == rid[1:] if len(rid) else np.zeros(0, dtype=bool)
    return rel[:, 0], rel[:, 1], seg_valid, rid


def _per_ring(values: np.ndarray, ring_start: np.ndarray) -> np.ndarray:
    """Sum a per-vertex array over each ring's [start, next_start) range."""
    if len(ring_start) <= 1:
        return np.zeros(0)
    return np.add.reduceat(values, ring_start[:-1])


def area(rp: RaggedPolygons) -> np.ndarray:
    """Per-row area: Σ over parts of (|shell| − Σ|holes|); 0 for empties."""
    x, y, valid, _ = _ring_scaffold(rp)
    if not len(rp.ring_row):
        return np.zeros(rp.n)
    cross = np.zeros(len(x))
    if len(x) > 1:
        cross[:-1] = np.where(valid, x[:-1] * y[1:] - x[1:] * y[:-1], 0.0)
    ring_signed = 0.5 * _per_ring(cross, rp.ring_start)
    contrib = np.where(rp.ring_hole, -np.abs(ring_signed), np.abs(ring_signed))
    return np.bincount(rp.ring_row, weights=contrib, minlength=rp.n)


def perimeter(rp: RaggedPolygons) -> np.ndarray:
    """Per-row boundary length (all rings; implicit closure like algos._closed)."""
    if not len(rp.ring_row):
        return np.zeros(rp.n)
    c = rp.coords
    seglen = np.zeros(len(c))
    counts = np.diff(rp.ring_start)
    rid = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    if len(c) > 1:
        d = np.diff(c, axis=0)
        seglen[:-1] = np.where(rid[:-1] == rid[1:], np.sqrt((d * d).sum(axis=1)), 0.0)
    ring_len = _per_ring(seglen, rp.ring_start)
    # closure: dist(last, first) — zero when the ring is already closed
    firsts = c[rp.ring_start[:-1]]
    lasts = c[rp.ring_start[1:] - 1]
    ring_len = ring_len + np.sqrt(((lasts - firsts) ** 2).sum(axis=1))
    return np.bincount(rp.ring_row, weights=ring_len, minlength=rp.n)


def length(rl: RaggedLines) -> np.ndarray:
    """Per-row chain length (no closure)."""
    if not len(rl.chain_row):
        return np.zeros(rl.n)
    c = rl.coords
    counts = np.diff(rl.chain_start)
    cid = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    seglen = np.zeros(len(c))
    if len(c) > 1:
        d = np.diff(c, axis=0)
        seglen[:-1] = np.where(cid[:-1] == cid[1:], np.sqrt((d * d).sum(axis=1)), 0.0)
    chain_len = np.add.reduceat(seglen, rl.chain_start[:-1])
    return np.bincount(rl.chain_row, weights=chain_len, minlength=rl.n)


def bounds(rp) -> np.ndarray:
    """(n, 4) [xmin, ymin, xmax, ymax]; NaN rows for empties. Works for both
    RaggedPolygons and RaggedLines (only row_start/coords are used)."""
    out = np.full((rp.n, 4), np.nan)
    if not len(rp.coords):
        return out
    nonempty = rp.row_start[:-1] != rp.row_start[1:]
    starts = rp.row_start[:-1][nonempty]
    out[nonempty, 0] = np.minimum.reduceat(rp.coords[:, 0], starts)
    out[nonempty, 1] = np.minimum.reduceat(rp.coords[:, 1], starts)
    out[nonempty, 2] = np.maximum.reduceat(rp.coords[:, 0], starts)
    out[nonempty, 3] = np.maximum.reduceat(rp.coords[:, 1], starts)
    return out


def bounds_cached(rp) -> np.ndarray:
    """Per-batch memoized :func:`bounds` — the pair kernels consult row
    bboxes several times per batch (overlap gate, probe prune); the batch
    is immutable after parse, so one computation serves them all."""
    b = getattr(rp, "_bbox", None)
    if b is None:
        b = bounds(rp)
        rp._bbox = b
    return b


def centroid(rp: RaggedPolygons) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(cx, cy, ok) per row — area-weighted centroid, holes subtracted,
    sign-normalized exactly like algos.centroid. ok=False rows (zero total
    area, empties) need the scalar fallback (length/point centroid)."""
    x, y, valid, rid = _ring_scaffold(rp)
    R = len(rp.ring_row)
    if not R:
        return np.zeros(rp.n), np.zeros(rp.n), np.zeros(rp.n, dtype=bool)
    N = len(x)
    cross = np.zeros(N)
    mx = np.zeros(N)
    my = np.zeros(N)
    if N > 1:
        cr = x[:-1] * y[1:] - x[1:] * y[:-1]
        cross[:-1] = np.where(valid, cr, 0.0)
        mx[:-1] = np.where(valid, (x[:-1] + x[1:]) * cr, 0.0)
        my[:-1] = np.where(valid, (y[:-1] + y[1:]) * cr, 0.0)
    a6 = _per_ring(cross, rp.ring_start) / 2.0  # signed ring area
    ccx = _per_ring(mx, rp.ring_start) / 6.0
    ccy = _per_ring(my, rp.ring_start) / 6.0
    neg = a6 < 0
    ccx = np.where(neg, -ccx, ccx)
    ccy = np.where(neg, -ccy, ccy)
    mag = np.abs(a6)
    firsts = rp.coords[rp.ring_start[:-1]]
    ccx = ccx + firsts[:, 0] * mag
    ccy = ccy + firsts[:, 1] * mag
    zero = a6 == 0  # degenerate rings contribute nothing (scalar `continue`)
    sgn = np.where(rp.ring_hole, -1.0, 1.0)
    w = np.where(zero, 0.0, sgn)
    aa = np.bincount(rp.ring_row, weights=w * mag, minlength=rp.n)
    cx = np.bincount(rp.ring_row, weights=w * ccx, minlength=rp.n)
    cy = np.bincount(rp.ring_row, weights=w * ccy, minlength=rp.n)
    ok = aa != 0
    safe = np.where(ok, aa, 1.0)
    return cx / safe, cy / safe, ok


# ----------------------------------------------------------------------
# Row-paired point-in-polygon (0 exterior / 1 boundary / 2 interior)
# ----------------------------------------------------------------------

def locate_points(rp: RaggedPolygons, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Locate (px[i], py[i]) in row i's polygon. Matches
    predicates.point_in_polygon semantics: shell boundary → 1, outside
    shell → 0, hole boundary → 1, inside hole → 0, else 2; a multipolygon
    row takes the max over parts. Rings with fewer than 3 points are
    ignored (scalar parity). Boundary tolerance is the same _EPS·scale²
    rule as predicates._on_segment."""
    R = len(rp.ring_row)
    out = np.zeros(rp.n, dtype=np.int8)
    if not R:
        return out
    counts = np.diff(rp.ring_start)
    rid = np.repeat(np.arange(R, dtype=np.int64), counts)
    c = rp.coords
    N = len(c)
    # per-segment endpoints in scalar arg order: i = s+1, j = s
    # (predicates._point_in_ring walks pairs (ring[i], ring[j=i-1]))
    if N < 2:
        return out
    # scalar _point_in_ring walks pairs (ring[i], ring[j=i-1]) INCLUDING
    # the wrap pair (ring[0], ring[n-1]) — degenerate for bitwise-closed
    # rings, the actual closing edge for rings stored open; append it
    wrap_r = np.nonzero(counts >= 3)[0]
    ia_ = np.concatenate([np.arange(1, N, dtype=np.int64),
                          rp.ring_start[:-1][wrap_r]])
    ja_ = np.concatenate([np.arange(0, N - 1, dtype=np.int64),
                          rp.ring_start[1:][wrap_r] - 1])
    seg_ok = np.concatenate([
        (rid[:-1] == rid[1:]) & (counts[rid[:-1]] >= 3),
        np.ones(len(wrap_r), dtype=bool)])
    seg_ring_all = np.concatenate([rid[:-1], wrap_r])
    s_row = rp.ring_row[seg_ring_all]
    pxs = px[s_row]
    pys = py[s_row]
    xi, yi = c[ia_, 0], c[ia_, 1]   # ring[i]
    xj, yj = c[ja_, 0], c[ja_, 1]  # ring[j]
    # boundary: |cross| <= EPS·scale² and p within the segment's eps-box
    cross = (xj - xi) * (pys - yi) - (yj - yi) * (pxs - xi)
    scale = np.maximum(np.maximum(np.abs(xj - xi), np.abs(yj - yi)), 1.0)
    on = (
        seg_ok
        & (np.abs(cross) <= _EPS * scale * scale)
        & (pxs >= np.minimum(xi, xj) - _EPS) & (pxs <= np.maximum(xi, xj) + _EPS)
        & (pys >= np.minimum(yi, yj) - _EPS) & (pys <= np.maximum(yi, yj) + _EPS)
    )
    # ray cast (same arithmetic order as the scalar loop)
    cond = seg_ok & ((yi > pys) != (yj > pys))
    with np.errstate(divide="ignore", invalid="ignore"):
        x_int = np.where(cond, (xj - xi) * (pys - yi) / np.where(yj == yi, 1.0, yj - yi) + xi, np.inf)
    toggle = cond & (pxs < x_int)
    ring_on = np.bincount(seg_ring_all[on], minlength=R) > 0
    ring_in = (np.bincount(seg_ring_all[toggle], minlength=R) % 2).astype(bool)
    # per-part classification
    P = len(rp.part_row)
    shell = ~rp.ring_hole
    shell_on = np.bincount(rp.ring_part[shell & ring_on], minlength=P) > 0
    shell_in = np.bincount(rp.ring_part[shell & ring_in], minlength=P) > 0
    hole_on = np.bincount(rp.ring_part[rp.ring_hole & ring_on], minlength=P) > 0
    hole_in = np.bincount(rp.ring_part[rp.ring_hole & ring_in], minlength=P) > 0
    part_loc = np.where(
        shell_on, 1,
        np.where(~shell_in, 0, np.where(hole_on, 1, np.where(hole_in, 0, 2))),
    ).astype(np.int8)
    np.maximum.at(out, rp.part_row, part_loc)
    return out


def distance_to_points(rp: RaggedPolygons, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Row-paired distance from (px[i], py[i]) to row i's polygon — 0 when
    the point is inside or on the boundary (same rule as algos.distance via
    intersects), else the min distance over all boundary segments (closure
    segments included, like algos._closed). NaN for empty rows."""
    from polars_st_spark.geo.algos import _seg_dist_point

    out = np.full(rp.n, np.nan)
    R = len(rp.ring_row)
    if not R:
        return out
    loc = locate_points(rp, px, py)
    counts = np.diff(rp.ring_start)
    rid = np.repeat(np.arange(R, dtype=np.int64), counts)
    c = rp.coords
    best = np.full(rp.n, np.inf)
    if len(c) > 1:
        valid = rid[:-1] == rid[1:]
        s_row = rp.ring_row[rid[:-1]]
        d = _seg_dist_point(px[s_row], py[s_row], c[:-1, 0], c[:-1, 1], c[1:, 0], c[1:, 1])
        d = np.where(valid, d, np.inf)
        np.minimum.at(best, s_row, d)
    # closure segment per ring (zero-length for already-closed rings)
    firsts = c[rp.ring_start[:-1]]
    lasts = c[rp.ring_start[1:] - 1]
    dc = _seg_dist_point(px[rp.ring_row], py[rp.ring_row],
                         lasts[:, 0], lasts[:, 1], firsts[:, 0], firsts[:, 1])
    np.minimum.at(best, rp.ring_row, dc)
    nonempty = rp.row_start[:-1] != rp.row_start[1:]
    out[nonempty] = np.where(loc[nonempty] != 0, 0.0, best[nonempty])
    return out


def const_polygon_distance(g, px: np.ndarray, py: np.ndarray) -> np.ndarray | None:
    """Distance from many points to ONE constant areal geometry (0 inside /
    on boundary, else min segment distance), or None when ``g`` is not
    purely areal. Loops over the constant's segments, vectorized over the
    point batch."""
    from polars_st_spark.geo.algos import _closed, _seg_dist_point
    from polars_st_spark.geo.predicates import _decompose, _point_in_ring_vec

    d = _decompose(g)
    if not d.polys or d.lines or d.points:
        return None
    best = np.full(len(px), np.inf)
    inside = np.zeros(len(px), dtype=bool)
    for rings in d.polys:
        st = _point_in_ring_vec(px, py, rings[0])
        for hole in rings[1:]:
            h = _point_in_ring_vec(px, py, hole)
            undecided = st == 2
            st = np.where(undecided & (h == 1), 1,
                          np.where(undecided & (h == 2), 0, st)).astype(np.int8)
        inside |= st != 0
        for r in rings:
            rc = _closed(np.asarray(r, dtype=np.float64))
            for i in range(len(rc) - 1):
                best = np.minimum(
                    best,
                    _seg_dist_point(px, py, rc[i, 0], rc[i, 1], rc[i + 1, 0], rc[i + 1, 1]),
                )
    return np.where(inside, 0.0, best)


def _spans_arrays(spans: list) -> tuple:
    """(row, byte_off, flat_off, npts) parallel int64 arrays from the loop
    parsers' tuple list (the vectorized parser builds them directly)."""
    if not spans:
        return _EMPTY_SPANS
    a = np.array(spans, dtype=np.int64)
    return a[:, 0], a[:, 1], a[:, 2], a[:, 3]


def splice_coords(bufs, parsed, new_coords: np.ndarray, set_srid: int | None = None) -> list:
    """Rebuild each row's EWKB with ``new_coords`` (same (N, 2) layout as
    ``parsed.coords``) spliced over the original coordinate bytes. Because
    only coordinates change, every header/count/type byte is reused verbatim
    — a batch affine transform is one copy of the Arrow data buffer plus one
    contiguous f8 write per ring (O(rings) Python, zero per-vertex work).
    Works for both RaggedPolygons and RaggedLines (only ``spans`` is used).
    Returns a list of bytes/None.

    ``set_srid`` overwrites the top-level header SRID word (callers must
    ensure every non-null row carries the SRID flag — true whenever
    ``parsed.srid_uniform`` and ``parsed.srid != 0``)."""
    offs, data, valid = flat_views(as_binary_array(bufs))
    buf = data[offs[0]:offs[-1]].copy()
    offs = offs - offs[0]
    flat = np.ascontiguousarray(new_coords, dtype="<f8")
    for row, boff, foff, npts in zip(*parsed.spans):
        at = offs[row] + boff
        buf[at : at + 16 * npts] = flat[foff : foff + npts].view(np.uint8).ravel()
    live = np.ones(len(offs) - 1, dtype=bool) if valid is None else valid
    if set_srid is not None:
        at = offs[:-1][live]
        buf[(at[:, None] + np.arange(5, 9)).ravel()] = np.tile(
            np.frombuffer(struct.pack("<I", set_srid), dtype=np.uint8), len(at))
    bts = buf.tobytes()
    return [bts[s:e] if ok else None
            for s, e, ok in zip(offs[:-1].tolist(), offs[1:].tolist(), live.tolist())]


def split_families(bufs):
    """Vectorized header scan splitting a batch by geometry family.

    Returns ``{"null", "point", "mpoint", "line", "poly"} -> int64 row-index
    arrays`` ("line" covers Multi, "poly" covers Multi), or None when any
    row is big-endian / Z / M / ISO-coded / a GeometryCollection, curve or
    unknown type — the caller falls back to the per-row path. Lets mixed batches (points
    interleaved with polygons, etc.) route each family through its
    vectorized kernel instead of dropping the whole batch to per-row
    Python."""
    u8, starts, lens, null_mask, _n = _scan_view(bufs)
    nn = np.flatnonzero(~null_mask)
    empty = np.zeros(0, dtype=np.int64)
    out = {"null": np.flatnonzero(null_mask), "point": empty, "mpoint": empty,
           "line": empty, "poly": empty}
    if not len(nn):
        return out
    starts = starts[nn]
    if (lens[nn] < 9).any():
        return None
    if (u8[starts] != 1).any():
        return None
    typ = _u32_at(u8, starts + 1)
    if ((typ & (_Z_FLAG | _M_FLAG)) != 0).any():
        return None
    base = typ & 0x0FFFFFFF
    if ((base < GeometryType.Point) | (base > GeometryType.MultiPolygon)).any():
        return None
    out["point"] = nn[base == GeometryType.Point]
    out["mpoint"] = nn[base == GeometryType.MultiPoint]
    out["line"] = nn[(base == GeometryType.LineString)
                     | (base == GeometryType.MultiLineString)]
    out["poly"] = nn[(base == GeometryType.Polygon)
                     | (base == GeometryType.MultiPolygon)]
    return out


def centroid_lines(rl: RaggedLines) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(cx, cy, ok) per row — length-weighted centroid of (Multi)LineString
    rows (same segment-midpoint formula as algos.centroid dim-1 branch).
    ok=False rows (zero total length, empties) need the scalar point-mean
    fallback."""
    n = rl.n
    c = rl.coords
    N = len(c)
    if N < 2:
        return np.zeros(n), np.zeros(n), np.zeros(n, dtype=bool)
    counts = np.diff(rl.chain_start)
    cid = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    valid = cid[:-1] == cid[1:]
    d = np.diff(c, axis=0)
    seg_len = np.where(valid, np.sqrt((d * d).sum(axis=1)), 0.0)
    midx = (c[:-1, 0] + c[1:, 0]) / 2.0
    midy = (c[:-1, 1] + c[1:, 1]) / 2.0
    row = rl.chain_row[cid[:-1]]
    ll = np.bincount(row, weights=seg_len, minlength=n)
    cx = np.bincount(row, weights=midx * seg_len, minlength=n)
    cy = np.bincount(row, weights=midy * seg_len, minlength=n)
    ok = ll != 0
    safe = np.where(ok, ll, 1.0)
    return cx / safe, cy / safe, ok


def distance_lines_to_points(rl: RaggedLines, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Row-paired distance from (px[i], py[i]) to row i's (Multi)LineString,
    in ``algos.distance``'s own arithmetic: 0 when the scalar's
    ``intersects`` holds (the point inside the row's bbox AND within
    ``_on_segment`` tolerance of a segment or ``_EPS`` of a single-vertex
    chain), else the min of the ``_seg_dist_point`` segment distances and
    the ``math.hypot`` distances to single-vertex chains. NaN for empty
    rows (NaN→NULL convention downstream)."""
    from polars_st_spark.geo.algos import _seg_dist_point, math_hypot
    from polars_st_spark.geo.predicates import _EPS

    out = np.full(rl.n, np.nan)
    c = rl.coords
    N = len(c)
    if not N:
        return out
    counts = np.diff(rl.chain_start)
    best = np.full(rl.n, np.inf)
    hit = np.zeros(rl.n, dtype=bool)
    one = np.flatnonzero(counts == 1)
    if len(one):
        # a one-vertex chain decomposes to a point: hypot and the _EPS
        # coincidence test of predicates.intersects
        v, vrow = rl.chain_start[one], rl.chain_row[one]
        dx, dy = px[vrow] - c[v, 0], py[vrow] - c[v, 1]
        np.minimum.at(best, vrow, math_hypot(dx, dy))
        hit[vrow[(np.abs(dx) <= _EPS) & (np.abs(dy) <= _EPS)]] = True
    if N > 1:
        cid = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
        valid = cid[:-1] == cid[1:]
        srow = rl.chain_row[cid[:-1]]
        PX, PY = px[srow], py[srow]
        ax, ay, bx, by = c[:-1, 0], c[:-1, 1], c[1:, 0], c[1:, 1]
        d = _seg_dist_point(PX, PY, ax, ay, bx, by)
        np.minimum.at(best, srow, np.where(valid, d, np.inf))
        # predicates._on_segment, elementwise in the same operation order
        with np.errstate(invalid="ignore"):
            cross = (bx - ax) * (PY - ay) - (by - ay) * (PX - ax)
            scale = np.maximum(np.maximum(np.abs(bx - ax), np.abs(by - ay)), 1.0)
            on = (
                valid & (np.abs(cross) <= _EPS * scale * scale)
                & (np.minimum(ax, bx) - _EPS <= PX) & (PX <= np.maximum(ax, bx) + _EPS)
                & (np.minimum(ay, by) - _EPS <= PY) & (PY <= np.maximum(ay, by) + _EPS)
            )
        hit[srow[on]] = True
    box = bounds(rl)
    with np.errstate(invalid="ignore"):
        inbox = (box[:, 0] <= px) & (px <= box[:, 2]) & (box[:, 1] <= py) & (py <= box[:, 3])
    nonempty = rl.row_start[:-1] != rl.row_start[1:]
    out[nonempty] = np.where(hit & inbox, 0.0, best)[nonempty]
    return out


def parse_multipoints(bufs) -> RaggedLines | None:
    """Vectorized scan for 2-D MultiPoint batches (pyarrow Binary array or
    bytes sequence) into the RaggedLines layout (one chain per point part —
    only ``coords`` / ``row_start`` / ``chain_row`` / ``null_mask`` /
    ``srid`` are meaningful to callers). Empty point parts (NaN coords)
    pass through as NaN rows. Returns None for anything that is not purely
    little-endian 2-D MultiPoints."""
    u8, starts_all, lens_all, null_mask, n = _scan_view(bufs)
    nn = np.nonzero(~null_mask)[0]
    rl = RaggedLines()
    rl.n = n
    rl.null_mask = null_mask
    rl.child_srid = False
    rl.spans = _EMPTY_SPANS
    if not len(nn):
        rl.coords = np.empty((0, 2))
        rl.row_start = np.zeros(n + 1, dtype=np.int64)
        rl.chain_start = np.zeros(1, dtype=np.int64)
        rl.chain_row = np.zeros(0, dtype=np.int64)
        rl.srid = 0
        rl.srid_uniform = True
        return rl
    starts = starts_all[nn]
    lens = lens_all[nn]
    if lens.min() < 9:
        return None
    row_end = starts + lens
    if (u8[starts] != 1).any():
        return None
    typ = _u32_at(u8, starts + 1)
    if ((typ & (_Z_FLAG | _M_FLAG)) != 0).any():
        return None
    if ((typ & 0x0FFFFFFF) != GeometryType.MultiPoint).any():
        return None
    has_srid = (typ & _SRID_FLAG) != 0
    srids = np.where(has_srid, _u32_at(u8, starts + 5), 0)
    srid0 = int(srids[0])
    data_pos = starts + 5 + 4 * has_srid.astype(np.int64)
    if (data_pos + 4 > row_end).any():
        return None
    m = len(nn)
    npts = _u32_at(u8, data_pos)
    max_p = int(npts.max()) if m else 0
    if max_p > 4096:
        return None
    pos = data_pos + 4
    pv_row, pv_p, pv_off = [], [], []
    for p in range(max_p):
        act = npts > p
        pa = pos[act]
        if (pa + 5 > row_end[act]).any():
            return None
        if (u8[pa] != 1).any():
            return None
        craw = _u32_at(u8, pa + 1)
        if ((craw & (_Z_FLAG | _M_FLAG)) != 0).any():
            return None
        if ((craw & 0x0FFFFFFF) != GeometryType.Point).any():
            return None
        csrid = (craw & _SRID_FLAG) != 0
        if csrid.any():
            rl.child_srid = True
        hdr = 5 + 4 * csrid.astype(np.int64)
        if (pa + hdr + 16 > row_end[act]).any():
            return None
        pv_row.append(np.nonzero(act)[0])
        pv_p.append(np.full(int(act.sum()), p, dtype=np.int64))
        pv_off.append(pa + hdr)
        adv = np.zeros(m, dtype=np.int64)
        adv[act] = hdr + 16
        pos = pos + adv
    zero = np.zeros(0, dtype=np.int64)
    if pv_row:
        prow = np.concatenate(pv_row)
        pp = np.concatenate(pv_p)
        poff = np.concatenate(pv_off)
        order = np.lexsort((pp, prow))
        prow, poff = prow[order], poff[order]
    else:
        prow = poff = zero
    ones = np.ones(len(prow), dtype=np.int64)
    rl.coords = _gather_rings(u8, poff, ones)
    abs_row = nn[prow] if len(prow) else prow
    per_row = np.zeros(n, dtype=np.int64)
    if len(prow):
        np.add.at(per_row, abs_row, 1)
    rl.row_start = np.zeros(n + 1, dtype=np.int64)
    rl.row_start[1:] = np.cumsum(per_row)
    rl.chain_start = np.arange(len(prow) + 1, dtype=np.int64)
    rl.chain_row = abs_row.astype(np.int64)
    rl.srid = srid0
    rl.srid_uniform = bool((srids == srid0).all())
    return rl


def centroid_points(rl: RaggedLines) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(cx, cy, ok) per row — arithmetic mean of the row's points (the
    scalar dim-0 centroid). NaN coordinates (empty point parts) poison
    their row -> ok False -> scalar fallback."""
    n = rl.n
    counts = np.diff(rl.row_start)
    ok = counts > 0
    cx = np.zeros(n)
    cy = np.zeros(n)
    if len(rl.coords):
        row = np.repeat(np.arange(n, dtype=np.int64), counts)
        cx = np.bincount(row, weights=rl.coords[:, 0], minlength=n)
        cy = np.bincount(row, weights=rl.coords[:, 1], minlength=n)
        bad = np.bincount(row, weights=(~np.isfinite(rl.coords).all(axis=1)).astype(float),
                          minlength=n) > 0
        ok = ok & ~bad
    safe = np.where(counts > 0, counts, 1)
    return cx / safe, cy / safe, ok


def locate_points_multi(
    rp: RaggedPolygons, px: np.ndarray, py: np.ndarray, prow: np.ndarray
) -> np.ndarray:
    """Locate K probe points, point k against the polygons of row
    ``prow[k]`` — the many-points-per-row generalization of
    :func:`locate_points` (same 0/1/2 semantics, same _EPS arithmetic).
    Drives the polygon×polygon intersects kernel, where every RING first
    vertex of one side probes the other side's row.

    Probes strictly outside their row's bbox expanded by ``_EPS`` are
    location 0 with NO segment product: ``on`` needs the probe inside a
    segment bbox ± _EPS (a subset of the row bbox ± _EPS), and the
    half-open ray parity of any point beyond the bbox is exactly even —
    so the prune is exact, and on contact-heavy shapes (coverage
    adjacency, sjoin refinement) it removes most of the pair product."""
    K = len(px)
    out = np.zeros(K, dtype=np.int8)
    R = len(rp.ring_row)
    c = rp.coords
    if not R or not K or len(c) < 2:
        return out
    bb = bounds_cached(rp)
    with np.errstate(invalid="ignore"):
        inb = (
            (px >= bb[prow, 0] - _EPS) & (px <= bb[prow, 2] + _EPS)
            & (py >= bb[prow, 1] - _EPS) & (py <= bb[prow, 3] + _EPS)
        )
    # NaN bboxes (empty rows) compare False — pruned to 0, same as the
    # no-segment result the core produces for them
    if not inb.all():
        if inb.any():
            out[inb] = _locate_points_multi_core(
                rp, px[inb], py[inb], prow[inb])
        return out
    return _locate_points_multi_core(rp, px, py, prow)


def _locate_points_multi_core(
    rp: RaggedPolygons, px: np.ndarray, py: np.ndarray, prow: np.ndarray
) -> np.ndarray:
    K = len(px)
    out = np.zeros(K, dtype=np.int8)
    R = len(rp.ring_row)
    c = rp.coords
    order = np.argsort(prow, kind="stable")
    px_s, py_s = px[order], py[order]
    pt_counts = np.bincount(prow[order], minlength=rp.n)
    pt_start = np.concatenate([[0], np.cumsum(pt_counts)])

    counts = np.diff(rp.ring_start)
    rid = np.repeat(np.arange(R, dtype=np.int64), counts)
    seg_ok = (rid[:-1] == rid[1:]) & (counts[rid[:-1]] >= 3)
    seg_sel = np.nonzero(seg_ok)[0]
    # scalar _point_in_ring includes the wrap pair (ring[0], ring[n-1]) —
    # degenerate for bitwise-closed rings, the closing edge for rings
    # stored open; append one per located ring (i = first, j = last)
    wrap_r = np.nonzero(counts >= 3)[0]
    ia_ = np.concatenate([seg_sel + 1, rp.ring_start[:-1][wrap_r]])
    ja_ = np.concatenate([seg_sel, rp.ring_start[1:][wrap_r] - 1])
    if len(ia_):
        seg_ring = np.concatenate([rid[seg_sel], wrap_r])
        seg_row = rp.ring_row[seg_ring]
        sizes = pt_counts[seg_row]
        total = int(sizes.sum())
    else:
        total = 0
    ring_pt_counts = pt_counts[rp.ring_row]
    ring_pt_start = np.concatenate([[0], np.cumsum(ring_pt_counts)])
    RPN = int(ring_pt_start[-1])
    ring_on = np.zeros(RPN, dtype=bool)
    ring_in = np.zeros(RPN, dtype=bool)
    if total:
        # per-SEGMENT precompute (S-sized, cache-resident), then the
        # point×segment product in bounded chunks — one unchunked pass
        # materialized ~25 pair-sized temporaries and was memory-bandwidth
        # bound (the hottest kernel in sjoin refinement and the relate
        # contact buckets). Every expression keeps the original operation
        # order, so results are bit-identical.
        XI_s, YI_s = c[ia_, 0], c[ia_, 1]
        XJ_s, YJ_s = c[ja_, 0], c[ja_, 1]
        dx_s = XJ_s - XI_s
        dy_s = YJ_s - YI_s
        sc_s = np.maximum(np.maximum(np.abs(dx_s), np.abs(dy_s)), 1.0)
        tol_s = _EPS * sc_s * sc_s
        minx_s = np.minimum(XI_s, XJ_s) - _EPS
        maxx_s = np.maximum(XI_s, XJ_s) + _EPS
        miny_s = np.minimum(YI_s, YJ_s) - _EPS
        maxy_s = np.maximum(YI_s, YJ_s) + _EPS
        dy_safe = np.where(YJ_s == YI_s, 1.0, dy_s)
        starts = np.cumsum(sizes) - sizes
        ramp = np.arange(total, dtype=np.int64) - np.repeat(starts, sizes)
        segp = np.repeat(np.arange(len(ia_)), sizes)
        ptp = np.repeat(pt_start[seg_row], sizes) + ramp
        pairkey = ring_pt_start[seg_ring][segp] + ramp
        on_cnt = np.zeros(RPN, dtype=np.int64)
        tg_cnt = np.zeros(RPN, dtype=np.int64)
        CH = 1 << 21
        for lo in range(0, total, CH):
            sp = segp[lo:lo + CH]
            PX = px_s[ptp[lo:lo + CH]]
            PY = py_s[ptp[lo:lo + CH]]
            XI = XI_s[sp]
            YI = YI_s[sp]
            dx = dx_s[sp]
            pyi = PY - YI
            cross = dx * pyi - dy_s[sp] * (PX - XI)
            on = (
                (np.abs(cross) <= tol_s[sp])
                & (PX >= minx_s[sp]) & (PX <= maxx_s[sp])
                & (PY >= miny_s[sp]) & (PY <= maxy_s[sp])
            )
            cond = (YI > PY) != (YJ_s[sp] > PY)
            x_int = np.where(cond, dx * pyi / dy_safe[sp] + XI, np.inf)
            toggle = cond & (PX < x_int)
            pk = pairkey[lo:lo + CH]
            on_cnt += np.bincount(pk[on], minlength=RPN)
            tg_cnt += np.bincount(pk[toggle], minlength=RPN)
        ring_on = on_cnt > 0
        ring_in = (tg_cnt & 1).astype(bool)

    Pn = len(rp.part_row)
    part_pt_counts = pt_counts[rp.part_row]
    part_pt_start = np.concatenate([[0], np.cumsum(part_pt_counts)])
    PPN = int(part_pt_start[-1])
    if not PPN:
        return out
    rp_ring = np.repeat(np.arange(R, dtype=np.int64), ring_pt_counts)
    rp_t = np.arange(RPN, dtype=np.int64) - np.repeat(ring_pt_start[:-1], ring_pt_counts)
    pp_idx = part_pt_start[rp.ring_part[rp_ring]] + rp_t
    shell_ring = ~rp.ring_hole[rp_ring]
    shell_on = np.bincount(pp_idx[shell_ring & ring_on], minlength=PPN) > 0
    shell_in = np.bincount(pp_idx[shell_ring & ring_in], minlength=PPN) > 0
    hole_on = np.bincount(pp_idx[~shell_ring & ring_on], minlength=PPN) > 0
    hole_in = np.bincount(pp_idx[~shell_ring & ring_in], minlength=PPN) > 0
    part_loc = np.where(
        shell_on, 1,
        np.where(~shell_in, 0, np.where(hole_on, 1, np.where(hole_in, 0, 2))),
    ).astype(np.int8)
    pp_part = np.repeat(np.arange(Pn, dtype=np.int64), part_pt_counts)
    pp_t = np.arange(PPN, dtype=np.int64) - np.repeat(part_pt_start[:-1], part_pt_counts)
    pt_sorted_idx = pt_start[rp.part_row[pp_part]] + pp_t
    tmp = np.zeros(K, dtype=np.int8)
    np.maximum.at(tmp, pt_sorted_idx, part_loc)
    out[order] = tmp
    return out


def _unit_arrays(p):
    """(unit_start, unit_row) — rings for polygons, chains for lines. The
    'unit' is scalar predicates.chains()'s chain: segments never span a
    unit boundary and the unit's FIRST vertex is the containment probe."""
    if isinstance(p, RaggedPolygons):
        return p.ring_start, p.ring_row
    return p.chain_start, p.chain_row


def _row_segments(p, row_mask: np.ndarray):
    """(ax, ay, bx, by, row) for every unit segment of rows in row_mask —
    consecutive coord pairs within a ring/chain, scalar _line_segments
    order. Polygonal rings that are NOT bitwise-closed additionally get
    the closing edge (last → first) in last position, matching
    ``predicates.chains()`` / ``_poly_segments`` (which run ``_closed``
    first); bitwise-closed rings and line chains are untouched. Rows stay
    contiguous (consumers enumerate per-row blocks)."""
    unit_start, unit_row = _unit_arrays(p)
    counts = np.diff(unit_start)
    c = p.coords
    U = len(counts)
    if len(c) < 2 or not U:
        z = np.zeros(0)
        return z, z, z, z, np.zeros(0, dtype=np.int64)
    s = unit_start[:-1]
    e_ = unit_start[1:]
    if isinstance(p, RaggedPolygons):
        first = c[s]
        last = c[np.maximum(e_ - 1, s)]
        unclosed = (counts >= 2) & (
            (first[:, 0] != last[:, 0]) | (first[:, 1] != last[:, 1]))
    else:
        unclosed = np.zeros(U, dtype=bool)
    ns_unit = (np.maximum(counts - 1, 0) + unclosed) * row_mask[unit_row]
    tot = int(ns_unit.sum())
    if not tot:
        z = np.zeros(0)
        return z, z, z, z, np.zeros(0, dtype=np.int64)
    u_of = np.repeat(np.arange(U, dtype=np.int64), ns_unit)
    off = np.cumsum(ns_unit) - ns_unit
    k = np.arange(tot, dtype=np.int64) - off[u_of]
    cons = k < counts[u_of] - 1
    i0 = np.where(cons, s[u_of] + k, e_[u_of] - 1)
    i1 = np.where(cons, s[u_of] + k + 1, s[u_of])
    return c[i0, 0], c[i0, 1], c[i1, 0], c[i1, 1], unit_row[u_of]


def polys_intersect(rpa, rpb, max_pairs: int = 64_000_000, chunk: int = 1 << 20):
    """Back-compat name: see :func:`pairs_intersect`."""
    return pairs_intersect(rpa, rpb, max_pairs=max_pairs, chunk=chunk)


def pairs_intersect(
    rpa,
    rpb,
    max_pairs: int = 64_000_000,
    chunk: int = 1 << 20,
    _flags=None,
) -> np.ndarray | None:
    """Row-paired ``intersects`` over two CSR batches, each side
    RaggedPolygons or RaggedLines (polygon×polygon, line×polygon,
    line×line) — predicates.intersects vectorized with the identical
    decision sequence: bbox prune, unit-first-vertex probes against any
    POLYGONAL side (:func:`locate_points_multi`, covers full containment
    incl. holes), then the all-segment-pair crossing test replicating
    ``_seg_intersect_kind``'s exact tolerance arithmetic (proper cross,
    collinear overlap/abutment, endpoint touch — which is all a line×line
    intersect needs). Segment pairs evaluate in bounded chunks (~20
    doubles of temporaries per pair); a batch whose pair product exceeds
    ``max_pairs`` returns None and the caller falls back to the scalar
    loop (a few enormous geometries amortize better per-row than as one
    giant allocation)."""
    n = rpa.n
    if rpb.n != n:
        raise ValueError(f"row counts differ: {n} vs {rpb.n}")
    out = np.zeros(n, dtype=bool)
    ba, bb_ = bounds(rpa), bounds(rpb)
    with np.errstate(invalid="ignore"):
        cand = (
            (ba[:, 0] <= bb_[:, 2]) & (bb_[:, 0] <= ba[:, 2])
            & (ba[:, 1] <= bb_[:, 3]) & (bb_[:, 1] <= ba[:, 3])
        )
    cand &= ~(np.isnan(ba[:, 0]) | np.isnan(bb_[:, 0]))
    if not cand.any():
        return out
    # unit-first-vertex probes, both directions where the TARGET side is
    # polygonal (scalar: first vertex of every chain of one side located
    # in the other side's polygons — a lineal target has no interior)
    for src, dst in ((rpa, rpb), (rpb, rpa)):
        if not isinstance(dst, RaggedPolygons):
            continue
        u_start, u_row = _unit_arrays(src)
        rsel = np.nonzero(cand[u_row])[0]
        if not len(rsel):
            continue
        firsts = u_start[:-1][rsel]
        loc = locate_points_multi(
            dst, src.coords[firsts, 0], src.coords[firsts, 1], u_row[rsel]
        )
        out[u_row[rsel][loc != 0]] = True
    rem = cand & ~out
    if not rem.any():
        return out
    flags = _flags if _flags is not None else _segpair_flags(
        rpa, rpb, rem, max_pairs, chunk)
    if flags is None:
        return None
    out |= rem & flags[0]
    return out


def _segpair_flags(
    rpa,
    rpb,
    row_mask: np.ndarray,
    max_pairs: int = 64_000_000,
    chunk: int = 1 << 20,
):
    """Per-row segment-pair classification over the masked rows:
    ``(any_nonzero, any_proper, any_contact, any_run)`` bool arrays —
    nonzero = _seg_intersect_kind != 0, proper = kind 2, contact = kind 1/3
    (touch or collinear), run = kind 3 only (collinear overlap of POSITIVE
    length — the scalar's BB=1 signal; endpoint-only collinear contact is
    kind 1). None when the pair product exceeds max_pairs."""
    n = rpa.n
    any_nonzero = np.zeros(n, dtype=bool)
    any_proper = np.zeros(n, dtype=bool)
    any_contact = np.zeros(n, dtype=bool)
    any_run = np.zeros(n, dtype=bool)
    ax, ay, bx, by, rowA = _row_segments(rpa, row_mask)
    cx, cy, ex, ey, rowB = _row_segments(rpb, row_mask)
    nb = np.bincount(rowB, minlength=n)
    offsB = np.concatenate([[0], np.cumsum(nb)])
    # pair enumeration without any division: per A-segment, a contiguous
    # block of its row's B-segments — ia by one repeat, ib by the
    # arange-minus-repeated-shift trick (_gather_rings pattern)
    sizes_b = nb[rowA]
    total = int(sizes_b.sum())
    if total > max_pairs:
        return None
    if not total:
        return any_nonzero, any_proper, any_contact, any_run
    blk_start = np.cumsum(sizes_b) - sizes_b
    shift = blk_start - offsB[rowA]
    if total < 2**31:
        ia_all = np.repeat(np.arange(len(ax), dtype=np.int32), sizes_b)
        ib_all = np.arange(total, dtype=np.int32)
        ib_all -= np.repeat(shift.astype(np.int32), sizes_b)
    else:
        ia_all = np.repeat(np.arange(len(ax), dtype=np.int64), sizes_b)
        ib_all = np.arange(total, dtype=np.int64)
        ib_all -= np.repeat(shift, sizes_b)

    def on_seg(px_, py_, sx, sy, tx, ty):
        cr = (tx - sx) * (py_ - sy) - (ty - sy) * (px_ - sx)
        sc = np.maximum(np.maximum(np.abs(tx - sx), np.abs(ty - sy)), 1.0)
        return (
            (np.abs(cr) <= _EPS * sc * sc)
            & (px_ >= np.minimum(sx, tx) - _EPS) & (px_ <= np.maximum(sx, tx) + _EPS)
            & (py_ >= np.minimum(sy, ty) - _EPS) & (py_ <= np.maximum(sy, ty) + _EPS)
        )

    for lo in range(0, total, chunk):
        ia = ia_all[lo:lo + chunk]
        ib = ib_all[lo:lo + chunk]
        AX, AY, BX, BY = ax[ia], ay[ia], bx[ia], by[ia]
        CX, CY, EX, EY = cx[ib], cy[ib], ex[ib], ey[ib]
        # _seg_intersect_kind's exact arithmetic, vectorized (orientations
        # carry a consistent sign flip vs the scalar — bit-exact negation,
        # and every condition below is invariant under it)
        d1 = (AX - CX) * (EY - CY) - (AY - CY) * (EX - CX)
        d2 = (BX - CX) * (EY - CY) - (BY - CY) * (EX - CX)
        d3 = (CX - AX) * (BY - AY) - (CY - AY) * (BX - AX)
        d4 = (EX - AX) * (BY - AY) - (EY - AY) * (BX - AX)
        scale_ab = np.maximum(np.maximum(np.abs(BX - AX), np.abs(BY - AY)), 1.0)
        scale_ce = np.maximum(np.maximum(np.abs(EX - CX), np.abs(EY - CY)), 1.0)
        tol = _EPS * scale_ce * scale_ab
        proper = (
            ((d1 > tol) & (d2 < -tol)) | ((d1 < -tol) & (d2 > tol))
        ) & (((d3 > tol) & (d4 < -tol)) | ((d3 < -tol) & (d4 > tol)))
        nonzero = proper.copy()
        # boundary-ish pairs (some orientation within tolerance) are rare —
        # evaluate the collinear/touch branches only on that subset
        near1 = np.abs(d1) <= tol
        near2 = np.abs(d2) <= tol
        near3 = np.abs(d3) <= tol
        near4 = np.abs(d4) <= tol
        bnd = (near1 | near2 | near3 | near4) & ~proper
        bsel = np.nonzero(bnd)[0]
        if len(bsel):
            sA = (AX[bsel], AY[bsel], BX[bsel], BY[bsel])
            sB = (CX[bsel], CY[bsel], EX[bsel], EY[bsel])
            n1, n2, n3, n4 = near1[bsel], near2[bsel], near3[bsel], near4[bsel]
            allcol = n1 & n2 & n3 & n4
            axis_x = np.abs(sA[2] - sA[0]) >= np.abs(sA[3] - sA[1])
            a1 = np.where(axis_x, sA[0], sA[1])
            b1 = np.where(axis_x, sA[2], sA[3])
            c1 = np.where(axis_x, sB[0], sB[1])
            e1 = np.where(axis_x, sB[2], sB[3])
            ov = (
                np.minimum(np.maximum(a1, b1), np.maximum(c1, e1))
                - np.maximum(np.minimum(a1, b1), np.minimum(c1, e1))
            )
            col_hit = ov >= -_EPS
            run_hit = allcol & (ov > _EPS)  # scalar kind-3 condition
            touch = (
                (n1 & on_seg(sA[0], sA[1], sB[0], sB[1], sB[2], sB[3]))
                | (n2 & on_seg(sA[2], sA[3], sB[0], sB[1], sB[2], sB[3]))
                | (n3 & on_seg(sB[0], sB[1], sA[0], sA[1], sA[2], sA[3]))
                | (n4 & on_seg(sB[2], sB[3], sA[0], sA[1], sA[2], sA[3]))
            )
            nonzero[bsel] = np.where(allcol, col_hit, touch)
            if run_hit.any():
                any_run[rowA[ia[bsel[run_hit]]]] = True
        rows_nz = rowA[ia[nonzero]]
        any_nonzero[rows_nz] = True
        any_proper[rowA[ia[proper]]] = True
        any_contact[rowA[ia[nonzero & ~proper]]] = True
    return any_nonzero, any_proper, any_contact, any_run


def pairs_within(
    rpa,
    rpb,
    max_pairs: int = 64_000_000,
    chunk: int = 1 << 20,
    _flags=None,
) -> tuple[np.ndarray, np.ndarray]:
    """Row-paired conservative ``within`` (is A inside B) over CSR
    batches; ``rpb`` must be polygonal, ``rpa`` polygonal or lineal.
    Returns ``(result, decided)`` — rows where ``decided`` is False carry
    boundary contact and need the scalar relate() fallback; certain rows
    are exact:

    - certain FALSE: an A vertex strictly outside closure(B) (loc 0), a
      proper boundary crossing, ``bbox(A) ⊄ bbox(B)``, or (areal A) a
      hole of B whose first vertex lies strictly inside A — each implies
      interior(A) ∩ exterior(B) ≠ ∅ for the within/covered_by/contains/
      covers family regardless of any other contact.
    - certain TRUE: every A vertex strictly interior (loc 2), zero
      segment contact of any kind, and no B-hole first vertex inside or
      on A — the no-contact case where within == covered_by.

    The conservative split keeps parity with the scalar DE-9IM verdicts:
    anything within _EPS of a boundary stays undecided."""
    n = rpa.n
    if rpb.n != n:
        raise ValueError(f"row counts differ: {n} vs {rpb.n}")
    if not isinstance(rpb, RaggedPolygons):
        raise ValueError("pairs_within needs a polygonal container side")
    result = np.zeros(n, dtype=bool)
    decided = np.zeros(n, dtype=bool)
    ba, bb_ = bounds(rpa), bounds(rpb)
    nan_rows = np.isnan(ba[:, 0]) | np.isnan(bb_[:, 0])
    with np.errstate(invalid="ignore"):
        inbox = (
            (ba[:, 0] >= bb_[:, 0]) & (ba[:, 1] >= bb_[:, 1])
            & (ba[:, 2] <= bb_[:, 2]) & (ba[:, 3] <= bb_[:, 3])
        )
    decided |= ~inbox & ~nan_rows  # a coordinate provably outside closure(B)
    active = inbox & ~nan_rows
    if not active.any():
        return result, decided
    rows_per_coord = np.repeat(
        np.arange(n, dtype=np.int64), np.diff(rpa.row_start)
    )
    csel = np.nonzero(active[rows_per_coord])[0]
    locs = locate_points_multi(
        rpb, rpa.coords[csel, 0], rpa.coords[csel, 1], rows_per_coord[csel]
    )
    prow = rows_per_coord[csel]
    any0 = np.zeros(n, dtype=bool)
    any1 = np.zeros(n, dtype=bool)
    any0[prow[locs == 0]] = True
    any1[prow[locs == 1]] = True
    flags = _flags if _flags is not None else _segpair_flags(
        rpa, rpb, active, max_pairs, chunk)
    if flags is None:
        # pair product too large to classify: certain-False from vertex
        # locations still stands; nothing becomes certain-True
        certain_false = active & any0
        decided |= certain_false
        return result, decided
    _, any_proper, any_contact, _ = flags
    hole_in = np.zeros(n, dtype=bool)
    hole_on = np.zeros(n, dtype=bool)
    if isinstance(rpa, RaggedPolygons):
        hidx = np.nonzero(rpb.ring_hole & active[rpb.ring_row])[0]
        if len(hidx):
            firsts = rpb.ring_start[:-1][hidx]
            hloc = locate_points_multi(
                rpa, rpb.coords[firsts, 0], rpb.coords[firsts, 1],
                rpb.ring_row[hidx],
            )
            hrow = rpb.ring_row[hidx]
            hole_in[hrow[hloc == 2]] = True
            hole_on[hrow[hloc == 1]] = True
    certain_false = active & (any0 | any_proper | hole_in)
    certain_true = (
        active & ~any0 & ~any1 & ~any_proper & ~any_contact
        & ~hole_in & ~hole_on
    )
    decided |= certain_false | certain_true
    result[certain_true] = True
    return result, decided


def pairs_touches(
    rpa,
    rpb,
    max_pairs: int = 64_000_000,
    chunk: int = 1 << 20,
) -> tuple[np.ndarray, np.ndarray]:
    """Row-paired conservative ``touches`` over CSR batches (polygonal or
    lineal sides). ``(result, decided)``:

    - certain FALSE: no intersection at all (bbox-disjoint or zero contact
      and zero containment signal — touches requires SOME common point),
      any PROPER boundary crossing (interiors meet), or any vertex of one
      side strictly interior to a polygonal other side.
    - everything else (real boundary contact without an interior signal)
      stays undecided — that is exactly the interesting adjacency set, and
      it goes to the scalar DE-9IM kernel. In an sjoin the overwhelming
      majority of bbox candidates are decided here for free."""
    n = rpa.n
    if rpb.n != n:
        raise ValueError(f"row counts differ: {n} vs {rpb.n}")
    result = np.zeros(n, dtype=bool)
    decided = np.zeros(n, dtype=bool)
    inter = pairs_intersect(rpa, rpb, max_pairs=max_pairs, chunk=chunk)
    if inter is None:
        return result, decided
    decided |= ~inter  # no common point -> touches False, certain
    act = inter.copy()
    if not act.any():
        return result, decided
    flags = _segpair_flags(rpa, rpb, act, max_pairs, chunk)
    if flags is None:
        return result, decided
    _, any_proper, _, _ = flags
    strict_in = np.zeros(n, dtype=bool)
    for src, dst in ((rpa, rpb), (rpb, rpa)):
        if not isinstance(dst, RaggedPolygons):
            continue
        u_start, u_row = _unit_arrays(src)
        counts = np.diff(u_start)
        # a strictly-interior vertex implies interiors meet ONLY for a
        # unit with extent (>=2 points) — a degenerate single-point chain
        # has no interior and stays undecided
        unit_per_coord = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
        rows_per_coord = u_row[unit_per_coord]
        csel = np.nonzero(act[rows_per_coord] & (counts[unit_per_coord] >= 2))[0]
        if not len(csel):
            continue
        loc = locate_points_multi(
            dst, src.coords[csel, 0], src.coords[csel, 1], rows_per_coord[csel]
        )
        strict_in[rows_per_coord[csel][loc == 2]] = True
    certain_false = act & (any_proper | strict_in)
    decided |= certain_false
    return result, decided


def _strict_within_signal(rpa, rpb, act, max_pairs, chunk):
    """(strict_true, contact) helper: rows of ``act`` where EVERY A vertex
    sits strictly inside B with zero segment contact (the pairs_within
    certain-TRUE core), plus the per-row contact flag. B must be
    polygonal."""
    n = rpa.n
    strict = np.zeros(n, dtype=bool)
    flags = _segpair_flags(rpa, rpb, act, max_pairs, chunk)
    if flags is None:
        return None
    _, any_proper, any_contact, _ = flags
    rows_per_coord = np.repeat(np.arange(n, dtype=np.int64), np.diff(rpa.row_start))
    csel = np.nonzero(act[rows_per_coord])[0]
    ok_in = np.zeros(n, dtype=bool)
    if len(csel):
        locs = locate_points_multi(
            rpb, rpa.coords[csel, 0], rpa.coords[csel, 1], rows_per_coord[csel]
        )
        prow = rows_per_coord[csel]
        bad = np.zeros(n, dtype=bool)
        bad[prow[locs != 2]] = True
        seen = np.zeros(n, dtype=bool)
        seen[prow] = True
        ok_in = seen & ~bad
    strict = act & ok_in & ~any_proper & ~any_contact
    return strict, any_proper, any_contact


def pairs_crosses(rpa, rpb, max_pairs: int = 64_000_000, chunk: int = 1 << 20):
    """Row-paired conservative ``crosses``: (result, decided).

    - areal×areal: ALWAYS False (SFS dimension rule) — fully decided.
    - any family: no common point → False.
    - lineal×lineal and lineal×areal (either order): a PROPER segment
      crossing puts interior points of the line on both sides → True;
      a line with every vertex strictly interior and zero contact lies
      within the polygon → False. Contact-only rows stay undecided."""
    n = rpa.n
    result = np.zeros(n, dtype=bool)
    decided = np.zeros(n, dtype=bool)
    a_poly = isinstance(rpa, RaggedPolygons)
    b_poly = isinstance(rpb, RaggedPolygons)
    if a_poly and b_poly:
        return result, np.ones(n, dtype=bool)
    inter = pairs_intersect(rpa, rpb, max_pairs=max_pairs, chunk=chunk)
    if inter is None:
        return result, decided
    decided |= ~inter
    act = inter.copy()
    if not act.any():
        return result, decided
    flags = _segpair_flags(rpa, rpb, act, max_pairs, chunk)
    if flags is None:
        return result, decided
    _, any_proper, any_contact, _ = flags
    if a_poly or b_poly:
        # line vs polygon: a proper crossing puts line-interior points in
        # both the polygon's interior and exterior — certain TRUE whatever
        # other boundary contact exists
        sure_true = act & any_proper
    else:
        # line vs line: crosses needs a 0-DIMENSIONAL interior meeting —
        # a proper crossing is certain only with no collinear/touch
        # contact that could raise the intersection to 1-dimensional
        sure_true = act & any_proper & ~any_contact
    result[sure_true] = True
    decided |= sure_true
    act &= ~sure_true
    if a_poly != b_poly:
        act &= ~any_proper  # proper+contact mixed rows were decided above
        if act.any():
            line, poly = (rpa, rpb) if b_poly else (rpb, rpa)
            sig = _strict_within_signal(line, poly, act, max_pairs, chunk)
            if sig is not None:
                strict, _, _ = sig
                decided |= strict  # line entirely interior -> crosses False
    return result, decided


def pairs_overlaps(rpa, rpb, max_pairs: int = 64_000_000, chunk: int = 1 << 20):
    """Row-paired conservative ``overlaps``: (result, decided).

    - mixed dimensions: ALWAYS False (SFS equal-dimension rule).
    - no common point → False.
    - areal×areal: a PROPER crossing proves interiors meet AND each side
      spills past the other → True; one side strictly inside the other
      (every vertex interior, zero contact) → False.
    - lineal×lineal: a proper crossing with NO collinear/touch contact is
      a 0-dimensional intersection → False. Everything else undecided."""
    n = rpa.n
    result = np.zeros(n, dtype=bool)
    decided = np.zeros(n, dtype=bool)
    a_poly = isinstance(rpa, RaggedPolygons)
    b_poly = isinstance(rpb, RaggedPolygons)
    if a_poly != b_poly:
        return result, np.ones(n, dtype=bool)
    inter = pairs_intersect(rpa, rpb, max_pairs=max_pairs, chunk=chunk)
    if inter is None:
        return result, decided
    decided |= ~inter
    act = inter.copy()
    if not act.any():
        return result, decided
    flags = _segpair_flags(rpa, rpb, act, max_pairs, chunk)
    if flags is None:
        return result, decided
    _, any_proper, any_contact, _ = flags
    if a_poly and b_poly:
        result[act & any_proper] = True
        decided |= act & any_proper
        act &= ~any_proper
        if act.any():
            for line_like, poly_like in ((rpa, rpb), (rpb, rpa)):
                sig = _strict_within_signal(line_like, poly_like, act, max_pairs, chunk)
                if sig is not None:
                    strict, _, _ = sig
                    # hole caveat: a strictly-inside A with a B hole inside
                    # it is NOT within — but overlaps is then TRUE, not
                    # False, so strictness alone cannot decide; require no
                    # holes inside (probe B hole firsts)
                    hole_in = np.zeros(n, dtype=bool)
                    if isinstance(poly_like, RaggedPolygons) and isinstance(line_like, RaggedPolygons):
                        hidx = np.nonzero(poly_like.ring_hole & strict[poly_like.ring_row])[0]
                        if len(hidx):
                            firsts = poly_like.ring_start[:-1][hidx]
                            hloc = locate_points_multi(
                                line_like, poly_like.coords[firsts, 0],
                                poly_like.coords[firsts, 1], poly_like.ring_row[hidx],
                            )
                            hole_in[poly_like.ring_row[hidx][hloc != 0]] = True
                    dec_rows = strict & ~hole_in
                    decided |= dec_rows  # contained -> overlaps False
                    act &= ~dec_rows
    else:
        # lineal×lineal: proper-only intersection is 0-dimensional
        zero_dim = act & any_proper & ~any_contact
        decided |= zero_dim
    return result, decided


def _vertex_targets(p, row_mask):
    """(vx, vy, vrow): all vertices of masked rows."""
    unit_start, unit_row = _unit_arrays(p)
    counts = np.diff(unit_start)
    unit_per_coord = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    rows_per_coord = unit_row[unit_per_coord]
    sel = np.nonzero(row_mask[rows_per_coord])[0]
    return p.coords[sel, 0], p.coords[sel, 1], rows_per_coord[sel]


def _min_vertex_to_side(best, vsrc, ssrc, row_mask, max_pairs, chunk):
    """Fold min distance from every vertex of ``vsrc`` to every segment
    of ``ssrc`` into ``best`` — _seg_dist_point arithmetic identical to
    algos.distance's candidate set (single-coordinate units, which the
    scalar scores by hypot, never reach here: ``pairs_distance`` declines
    them). Returns False when the pair product exceeds max_pairs."""
    vx, vy, vrow = _vertex_targets(vsrc, row_mask)
    ax, ay, bx, by, srow = _row_segments(ssrc, row_mask)
    n = len(best)
    nv = np.bincount(vrow, minlength=n)
    offsV = np.concatenate([[0], np.cumsum(nv)])
    order = np.argsort(vrow, kind="stable")
    vx_s, vy_s = vx[order], vy[order]
    # segment × vertices-of-row product (the _segpair_flags block pattern)
    sizes = nv[srow]
    total = int(sizes.sum())
    if total > max_pairs:
        return False
    if total:
        blk = np.cumsum(sizes) - sizes
        shift = blk - offsV[srow]
        if total < 2**31:
            is_all = np.repeat(np.arange(len(ax), dtype=np.int32), sizes)
            iv_all = np.arange(total, dtype=np.int32)
            iv_all -= np.repeat(shift.astype(np.int32), sizes)
        else:
            is_all = np.repeat(np.arange(len(ax), dtype=np.int64), sizes)
            iv_all = np.arange(total, dtype=np.int64)
            iv_all -= np.repeat(shift, sizes)
        for lo in range(0, total, chunk):
            isg = is_all[lo:lo + chunk]
            iv = iv_all[lo:lo + chunk]
            PX, PY = vx_s[iv], vy_s[iv]
            AX, AY, BX, BY = ax[isg], ay[isg], bx[isg], by[isg]
            dx, dy = BX - AX, BY - AY
            ll = dx * dx + dy * dy
            with np.errstate(divide="ignore", invalid="ignore"):
                t = np.where(
                    ll > 0,
                    ((PX - AX) * dx + (PY - AY) * dy) / np.where(ll == 0, 1, ll),
                    0.0,
                )
            t = np.clip(t, 0.0, 1.0)
            cxp, cyp = AX + t * dx, AY + t * dy
            d = np.sqrt((PX - cxp) ** 2 + (PY - cyp) ** 2)
            np.minimum.at(best, srow[isg], d)
    return True


def _lineal_has_boundary(rl: RaggedLines) -> np.ndarray:
    """Per-row bool: does the lineal row have mod-2 boundary points?

    Chain endpoints rounded to 12 decimals (exact parity with scalar
    predicates._line_boundary_points), odd multiplicity within a row →
    the row's boundary is nonempty (dim 0); even everywhere → closed
    (boundary F). Single-point chains count their lone vertex twice,
    exactly like the scalar (chain[0] and chain[-1] are the same point)."""
    n = rl.n
    has = np.zeros(n, dtype=bool)
    counts = np.diff(rl.chain_start)
    ok = counts >= 1
    if not ok.any():
        return has
    first = rl.chain_start[:-1][ok]
    last = (rl.chain_start[1:] - 1)[ok]
    crow = rl.chain_row[ok]
    idx = np.concatenate([first, last])
    row = np.concatenate([crow, crow])
    x = np.round(rl.coords[idx, 0], 12)
    y = np.round(rl.coords[idx, 1], 12)
    order = np.lexsort((y, x, row))
    rx, ry, rr = x[order], y[order], row[order]
    new = np.ones(len(rr), dtype=bool)
    if len(rr) > 1:
        new[1:] = (rr[1:] != rr[:-1]) | (rx[1:] != rx[:-1]) | (ry[1:] != ry[:-1])
    gid = np.cumsum(new) - 1
    cnt = np.bincount(gid)
    odd_groups = (cnt % 2).astype(bool)
    group_rows = rr[new]
    has[group_rows[odd_groups]] = True
    return has


def _family_meta(p):
    """(dim_char, bdim_chars, degenerate_rows) for one CSR side.

    dim/bdim are the per-row DE-9IM dimension symbols the family
    contributes when probed against the other side's EXTERIOR (polygonal:
    interior '2' / boundary '1'; lineal: interior '1' / boundary '0' or
    'F' by the mod-2 rule). degenerate rows — units too small to carry
    the family's claimed dimension (ring < 4 points or |ring area| == 0,
    chain < 2 points) — must stay undecided: the scalar kernel's sampled
    probes treat them differently than the closed-form shortcut would."""
    n = p.n
    if isinstance(p, RaggedPolygons):
        deg = np.zeros(n, dtype=bool)
        counts = np.diff(p.ring_start)
        if len(counts):
            bad = counts < 4
            x, y, valid, _ = _ring_scaffold(p)
            cross = np.zeros(len(x))
            if len(x) > 1:
                cross[:-1] = np.where(valid, x[:-1] * y[1:] - x[1:] * y[:-1], 0.0)
            ring_signed = 0.5 * _per_ring(cross, p.ring_start)
            bad |= ring_signed == 0.0
            deg[p.ring_row[bad]] = True
        bdim = np.full(n, "1", dtype="<U1")
        return "2", bdim, deg
    deg = np.zeros(n, dtype=bool)
    counts = np.diff(p.chain_start)
    if len(counts):
        deg[p.chain_row[counts < 2]] = True
    bdim = np.where(_lineal_has_boundary(p), "0", "F").astype("<U1")
    return "1", bdim, deg


def _contact_split_params(rpa, rpb, row_mask, max_pairs, chunk,
                          with_crossings: bool = False):
    """Contact-point split parameters for the contact relate buckets.

    Over the masked rows, finds every OTHER-side vertex lying on a
    segment (the scalar's ``_split_midpoints_segs`` split set) and
    returns, per side, the segment arrays plus ``(seg_idx, t)`` split
    params — t computed with the scalar ``_seg_param`` dominant-axis
    formula, clipped to [0, 1]. With ``with_crossings`` the PROPER
    crossing parameters are collected too (the scalar's kind-2 den/t
    formula, both sides), which the mixed lineal buckets need so chunk
    flanks around a crossing classify strictly in/out. Returns None when
    the pair product exceeds ``max_pairs``."""
    ax, ay, bx, by, rowA = _row_segments(rpa, row_mask)
    cx, cy, ex, ey, rowB = _row_segments(rpb, row_mask)
    n = rpa.n
    nb = np.bincount(rowB, minlength=n)
    offsB = np.concatenate([[0], np.cumsum(nb)])
    sizes_b = nb[rowA]
    total = int(sizes_b.sum())
    if total > max_pairs:
        return None
    segA = (ax, ay, bx, by, rowA)
    segB = (cx, cy, ex, ey, rowB)
    pa_seg: list = []
    pa_t: list = []
    pa_xy: list = []  # the hitting OTHER-side vertex (exact coords)
    pb_seg: list = []
    pb_t: list = []
    pb_xy: list = []
    ca_seg: list = []  # proper-crossing split params (no hit point)
    ca_t: list = []
    cb_seg: list = []
    cb_t: list = []
    if not total:
        return (segA, segB, pa_seg, pa_t, pb_seg, pb_t, pa_xy, pb_xy,
                ca_seg, ca_t, cb_seg, cb_t)

    blk_start = np.cumsum(sizes_b) - sizes_b
    shift = blk_start - offsB[rowA]
    ia_all = np.repeat(np.arange(len(ax), dtype=np.int64), sizes_b)
    ib_all = np.arange(total, dtype=np.int64)
    ib_all -= np.repeat(shift, sizes_b)

    def on_seg(px_, py_, sx, sy, tx, ty):
        cr = (tx - sx) * (py_ - sy) - (ty - sy) * (px_ - sx)
        sc = np.maximum(np.maximum(np.abs(tx - sx), np.abs(ty - sy)), 1.0)
        return (
            (np.abs(cr) <= _EPS * sc * sc)
            & (px_ >= np.minimum(sx, tx) - _EPS) & (px_ <= np.maximum(sx, tx) + _EPS)
            & (py_ >= np.minimum(sy, ty) - _EPS) & (py_ <= np.maximum(sy, ty) + _EPS)
        )

    def seg_param(px_, py_, sx, sy, tx, ty):
        # scalar _seg_param: dominant axis, 0 when the axis extent is 0
        dx, dy = tx - sx, ty - sy
        use_x = np.abs(dx) >= np.abs(dy)
        den = np.where(use_x, dx, dy)
        num = np.where(use_x, px_ - sx, py_ - sy)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(den != 0, num / np.where(den != 0, den, 1.0), 0.0)
        return np.clip(t, 0.0, 1.0)

    for lo in range(0, total, chunk):
        ia = ia_all[lo:lo + chunk]
        ib = ib_all[lo:lo + chunk]
        AX, AY, BX, BY = ax[ia], ay[ia], bx[ia], by[ia]
        CX, CY, EX, EY = cx[ib], cy[ib], ex[ib], ey[ib]
        # B endpoints on segment A -> split params on A
        for px_, py_ in ((CX, CY), (EX, EY)):
            hit = on_seg(px_, py_, AX, AY, BX, BY)
            if hit.any():
                pa_seg.append(ia[hit])
                pa_t.append(seg_param(px_[hit], py_[hit],
                                      AX[hit], AY[hit], BX[hit], BY[hit]))
                pa_xy.append(np.stack([px_[hit], py_[hit]], axis=1))
        # A endpoints on segment B -> split params on B
        for px_, py_ in ((AX, AY), (BX, BY)):
            hit = on_seg(px_, py_, CX, CY, EX, EY)
            if hit.any():
                pb_seg.append(ib[hit])
                pb_t.append(seg_param(px_[hit], py_[hit],
                                      CX[hit], CY[hit], EX[hit], EY[hit]))
                pb_xy.append(np.stack([px_[hit], py_[hit]], axis=1))
        if with_crossings:
            # proper-crossing split params (scalar _relate_line_poly /
            # _split_midpoints_segs kind-2 branch: den / t, clipped)
            d1 = (AX - CX) * (EY - CY) - (AY - CY) * (EX - CX)
            d2 = (BX - CX) * (EY - CY) - (BY - CY) * (EX - CX)
            d3 = (CX - AX) * (BY - AY) - (CY - AY) * (BX - AX)
            d4 = (EX - AX) * (BY - AY) - (EY - AY) * (BX - AX)
            sca = np.maximum(np.maximum(np.abs(BX - AX), np.abs(BY - AY)), 1.0)
            scc = np.maximum(np.maximum(np.abs(EX - CX), np.abs(EY - CY)), 1.0)
            tol = _EPS * sca * scc
            proper = (
                ((d1 > tol) & (d2 < -tol)) | ((d1 < -tol) & (d2 > tol))
            ) & (((d3 > tol) & (d4 < -tol)) | ((d3 < -tol) & (d4 > tol)))
            if proper.any():
                pm = np.nonzero(proper)[0]
                denA = ((AX[pm] - BX[pm]) * (CY[pm] - EY[pm])
                        - (AY[pm] - BY[pm]) * (CX[pm] - EX[pm]))
                okA = denA != 0
                tA = np.where(okA,
                              ((AX[pm] - CX[pm]) * (CY[pm] - EY[pm])
                               - (AY[pm] - CY[pm]) * (CX[pm] - EX[pm]))
                              / np.where(okA, denA, 1.0), 0.0)
                ca_seg.append(ia[pm[okA]])
                ca_t.append(np.clip(tA[okA], 0.0, 1.0))
                denB = ((CX[pm] - EX[pm]) * (AY[pm] - BY[pm])
                        - (CY[pm] - EY[pm]) * (AX[pm] - BX[pm]))
                okB = denB != 0
                tB = np.where(okB,
                              ((CX[pm] - AX[pm]) * (AY[pm] - BY[pm])
                               - (CY[pm] - AY[pm]) * (AX[pm] - BX[pm]))
                              / np.where(okB, denB, 1.0), 0.0)
                cb_seg.append(ib[pm[okB]])
                cb_t.append(np.clip(tB[okB], 0.0, 1.0))
    return (segA, segB, pa_seg, pa_t, pb_seg, pb_t, pa_xy, pb_xy,
            ca_seg, ca_t, cb_seg, cb_t)


def _chunk_midpoints(seg, split_seg, split_t, with_bounds: bool = False):
    """Sub-chunk midpoints of every segment, split at the collected
    params (plus 0 and 1), skipping sub-pieces shorter than 1e-12 in
    param space — the scalar ``_split_midpoints_segs`` construction.
    Returns ``(mx, my, seg_idx)`` or, with bounds, ``(mx, my, seg_idx,
    t_lo, t_hi)`` so callers can re-probe at other chunk fractions."""
    ax, ay, bx, by, rowA = seg
    ns = len(ax)
    base_seg = np.concatenate([np.arange(ns, dtype=np.int64)] * 2 + (
        [np.concatenate(split_seg)] if split_seg else []))
    base_t = np.concatenate([np.zeros(ns), np.ones(ns)] + (
        [np.concatenate(split_t)] if split_t else []))
    order = np.lexsort((base_t, base_seg))
    s, t = base_seg[order], base_t[order]
    same = (s[1:] == s[:-1])
    dt = t[1:] - t[:-1]
    keep = same & (dt >= 1e-12)
    t_lo = t[:-1][keep]
    t_hi = t[1:][keep]
    tm = (t_lo + t_hi) / 2.0
    sm = s[1:][keep]
    mx = ax[sm] + tm * (bx[sm] - ax[sm])
    my = ay[sm] + tm * (by[sm] - ay[sm])
    if with_bounds:
        return mx, my, sm, t_lo, t_hi
    return mx, my, sm


def _run_side_parity(runs, seg, n, max_pairs, chunk):
    """Exact side-membership at shared-run midpoints by crossing parity.

    For each run (midpoint m on a segment with direction d), casts the
    two rays m ± t·n (n the unit normal of d, t > 0) against every
    segment of the same row from ``seg`` and counts proper crossings.
    The parity of the count is the membership of the infinitesimal
    side-point m + 0⁺·n (resp. −n) in the polygon whose boundary ``seg``
    is — no epsilon probe point is ever constructed. Returns
    ``(odd_pos, odd_neg, bad_row)``; any grazing configuration (vertex
    within tolerance of the ray line, segment along the ray line, or a
    crossing within tolerance of m that is not the incident collinear
    boundary) marks the row undecided instead of guessing."""
    mx, my, ndx, ndy, runrow = runs
    sx, sy, tx, ty, segrow = seg
    R = len(mx)
    odd_pos = np.zeros(R, dtype=bool)
    odd_neg = np.zeros(R, dtype=bool)
    bad_run = np.zeros(R, dtype=bool)
    if not R or not len(sx):
        return odd_pos, odd_neg, bad_run
    nseg = np.bincount(segrow, minlength=n)
    offs = np.concatenate([[0], np.cumsum(nseg)])
    sizes = nseg[runrow]
    total = int(sizes.sum())
    if total > max_pairs:
        bad_run[:] = True
        return odd_pos, odd_neg, bad_run
    if not total:
        return odd_pos, odd_neg, bad_run
    blk = np.cumsum(sizes) - sizes
    shift = blk - offs[runrow]
    ri_all = np.repeat(np.arange(R, dtype=np.int64), sizes)
    si_all = np.arange(total, dtype=np.int64)
    si_all -= np.repeat(shift, sizes)
    cnt_pos = np.zeros(R, dtype=np.int64)
    cnt_neg = np.zeros(R, dtype=np.int64)
    for lo in range(0, total, chunk):
        ri = ri_all[lo:lo + chunk]
        si = si_all[lo:lo + chunk]
        MX, MY = mx[ri], my[ri]
        NX, NY = ndx[ri], ndy[ri]
        PX, PY, QX, QY = sx[si], sy[si], tx[si], ty[si]
        p_mx, p_my = PX - MX, PY - MY
        q_mx, q_my = QX - MX, QY - MY
        s1 = NX * p_my - NY * p_mx
        s2 = NX * q_my - NY * q_mx
        sc = np.maximum(1.0, np.maximum(
            np.maximum(np.abs(p_mx), np.abs(p_my)),
            np.maximum(np.abs(q_mx), np.abs(q_my))))
        tol = _EPS * sc
        near1 = np.abs(s1) <= tol
        near2 = np.abs(s2) <= tol
        # segment lying along the ray LINE (both endpoints on it):
        # degenerate only if it extends away from m — a boundary running
        # along the probe ray breaks parity counting. A micro segment at m
        # itself contributes nothing. (A single vertex ON the ray line is
        # NOT degenerate: the half-open sign rule below counts the two
        # segments sharing it consistently — both see the identical
        # floating s value — so the crossing parity stays exact, the
        # standard robust even-odd treatment.)
        both = near1 & near2
        away = both & (np.maximum(
            np.abs(p_mx * NX + p_my * NY),
            np.abs(q_mx * NX + q_my * NY)) > tol)
        # half-open crossing rule: EXACT sign comparisons, no tolerance
        crossing = ((s1 > 0.0) != (s2 > 0.0)) & ~both
        wx, wy = QX - PX, QY - PY
        den = NX * wy - NY * wx
        num = p_mx * wy - p_my * wx
        with np.errstate(divide="ignore", invalid="ignore"):
            tdist = np.where(crossing, num / np.where(den != 0, den, 1.0), 0.0)
        # segments PARALLEL to the run direction with |t| <= tol are the
        # incident collinear boundary itself (the run's parent segment and
        # the other side's coincident piece — t is exactly 0 only in exact
        # arithmetic, so the test must be geometric, not t != 0); a
        # NON-parallel crossing that close to m is a sliver -> undecided.
        # run direction d = (NY, -NX) (unit, normal rotated back)
        scw = np.maximum(1.0, np.maximum(np.abs(wx), np.abs(wy)))
        par = np.abs(NY * wy + NX * wx) <= _EPS * scw
        nearm = crossing & (np.abs(tdist) <= tol) & ~par
        badp = away | nearm
        if badp.any():
            bad_run[ri[badp]] = True
        pos = crossing & (tdist > tol)
        neg = crossing & (tdist < -tol)
        np.add.at(cnt_pos, ri[pos], 1)
        np.add.at(cnt_neg, ri[neg], 1)
    odd_pos = (cnt_pos & 1).astype(bool)
    odd_neg = (cnt_neg & 1).astype(bool)
    return odd_pos, odd_neg, bad_run


def _contact_only_matrices(rpa, rpb, co, any_run, max_pairs, chunk):
    """Closed-form DE-9IM matrices for areal×areal rows whose boundaries
    CONTACT (touch points and/or collinear shared runs) without any
    proper crossing — the dominant shape in coverage data (adjacent
    parcels, admin polygons), where every pair previously fell back to
    the scalar kernel.

    Derivation (valid polygons; every boundary point locally separates
    interior from exterior): classify every boundary SUB-CHUNK midpoint
    (split at all contact points, exactly the fixed scalar's
    ``_split_midpoints_segs`` set) against the other side's component
    union -> per-row flags ia/oa (some chunk of ∂A strictly inside /
    outside B) and ib/ob; chunks ON the other boundary are shared runs,
    whose two sides' membership in A and B comes from the exact crossing
    parity of ``_run_side_parity``. Then:

      II=2 iff ia|ib|ss_ii      IB=1 iff ib      IE=2 iff oa|ib|ss_ie
      BI=1 iff ia               BB=1 iff run     BE=1 iff oa
      EI=2 iff ob|ia|ss_ei      EB=1 iff ob      EE=2

    (a chunk of ∂B strictly inside A has int(A) on BOTH its sides, so it
    also pins II=2 and IE=2; ss_* are the shared-run side signals that
    decide the equals / component-equal / hole-filling shapes). Rows
    where any signal is tolerance-ambiguous stay undecided and take the
    scalar fallback. Returns ``(mats, decided)`` or ``(None, None)``
    when the pair product exceeds ``max_pairs``."""
    n = rpa.n
    sp = _contact_split_params(rpa, rpb, co, max_pairs, chunk)
    if sp is None:
        return None, None
    segA, segB, pa_seg, pa_t, pb_seg, pb_t, *_rest = sp
    amx, amy, aseg, at_lo, at_hi = _chunk_midpoints(
        segA, pa_seg, pa_t, with_bounds=True)
    bmx, bmy, bseg = _chunk_midpoints(segB, pb_seg, pb_t)
    arow = segA[4][aseg]
    brow = segB[4][bseg]
    locA = locate_points_multi(rpb, amx, amy, arow)
    locB = locate_points_multi(rpa, bmx, bmy, brow)

    def any_per_row(rows_, mask_):
        out = np.zeros(n, dtype=bool)
        if mask_.any():
            out[rows_[mask_]] = True
        return out

    ia = any_per_row(arow, locA == 2)
    oa = any_per_row(arow, locA == 0)
    ib = any_per_row(brow, locB == 2)
    ob = any_per_row(brow, locB == 0)
    run_a = any_per_row(arow, locA == 1)
    run_b = any_per_row(brow, locB == 1)
    # tolerance-consistency gate: the segment-sweep run flag and both
    # sides' ON-chunk sightings must agree, else the row is ambiguous
    ok = co & (run_a == any_run) & (run_b == any_run)

    ss_ii = np.zeros(n, dtype=bool)
    ss_ie = np.zeros(n, dtype=bool)
    ss_ei = np.zeros(n, dtype=bool)
    withrun = ok & any_run
    if withrun.any():
        rsel = np.nonzero((locA == 1) & withrun[arow])[0]
        if len(rsel):
            sm = aseg[rsel]
            ax_, ay_ = segA[0][sm], segA[1][sm]
            dx = segA[2][sm] - ax_
            dy = segA[3][sm] - ay_
            ln = np.hypot(dx, dy)
            ok_len = ln > 0
            ndx = np.where(ok_len, -dy / np.where(ok_len, ln, 1.0), 0.0)
            ndy = np.where(ok_len, dx / np.where(ok_len, ln, 1.0), 0.0)
            ok[arow[rsel[~ok_len]]] = False
            rr = arow[rsel]
            tlo, thi = at_lo[rsel], at_hi[rsel]
            R_ = len(rsel)
            apos = np.zeros(R_, dtype=bool)
            aneg = np.zeros(R_, dtype=bool)
            bpos = np.zeros(R_, dtype=bool)
            bneg = np.zeros(R_, dtype=bool)
            unresolved = ok_len.copy()
            # probe fractions along the run chunk: the side parity is
            # constant on the chunk interior, so a degenerate ray (grazing
            # a collinear edge — common on integer grids, where the chunk
            # MIDPOINT's perpendicular often rides a gridline shared with
            # other axis-parallel edges) simply retries from another
            # interior point. A parity contradiction (some side claimed
            # interior on both or neither side of its own boundary) is
            # treated the same way; rows still unresolved after every
            # fraction stay undecided.
            for frac in (0.5, 0.25, 0.75, 0.375, 0.625):
                if not unresolved.any():
                    break
                u = np.nonzero(unresolved)[0]
                tm = tlo[u] + frac * (thi[u] - tlo[u])
                pmx = ax_[u] + tm * dx[u]
                pmy = ay_[u] + tm * dy[u]
                runs = (pmx, pmy, ndx[u], ndy[u], rr[u])
                ap, an, badA = _run_side_parity(runs, segA, n, max_pairs, chunk)
                bp, bn, badB = _run_side_parity(runs, segB, n, max_pairs, chunk)
                good = ~badA & ~badB & (ap != an) & (bp != bn)
                gi = u[good]
                apos[gi], aneg[gi] = ap[good], an[good]
                bpos[gi], bneg[gi] = bp[good], bn[good]
                unresolved[gi] = False
            if unresolved.any():
                ok[rr[unresolved]] = False
            done_ = ~unresolved
            sii = ((apos & bpos) | (aneg & bneg)) & done_
            sie = ((apos & ~bpos) | (aneg & ~bneg)) & done_
            sei = ((~apos & bpos) | (~aneg & bneg)) & done_
            ss_ii |= any_per_row(rr, sii)
            ss_ie |= any_per_row(rr, sie)
            ss_ei |= any_per_row(rr, sei)

    mats = np.full(n, None, dtype=object)
    # one string per distinct flag combination (<= 2^6 keys), assigned by mask
    key = (
        ia.astype(np.int32)
        | (oa.astype(np.int32) << 1)
        | (ib.astype(np.int32) << 2)
        | (ob.astype(np.int32) << 3)
        | (any_run.astype(np.int32) << 4)
        | ((ia | ib | ss_ii).astype(np.int32) << 5)
        | ((oa | ib | ss_ie).astype(np.int32) << 6)
        | ((ob | ia | ss_ei).astype(np.int32) << 7)
    )
    key = np.where(ok, key, -1)
    for k in np.unique(key):
        if k < 0:
            continue
        m = (
            ("2" if k & 32 else "F")
            + ("1" if k & 4 else "F")
            + ("2" if k & 64 else "F")
            + ("1" if k & 1 else "F")
            + ("1" if k & 16 else "0")
            + ("1" if k & 2 else "F")
            + ("2" if k & 128 else "F")
            + ("1" if k & 8 else "F")
            + "2"
        )
        mats[key == k] = m
    return mats, ok


def _line_boundary_meta(rl: RaggedLines, mask: np.ndarray):
    """Per-row lineal boundary for the contact buckets: ``(bx, by, brow,
    eligible)``. Boundary points are the chain endpoints whose 12-dp
    rounded coordinate appears an ODD number of times in the row (the
    scalar ``_line_boundary_points`` mod-2 rule). ``eligible`` marks rows
    where every odd group has multiplicity exactly 1 (simple endpoints)
    or the row has no boundary at all — other configurations (T-nodes
    with multiplicity 3+) keep their scalar fallback."""
    n = rl.n
    eligible = np.zeros(n, dtype=bool)
    counts = np.diff(rl.chain_start)
    okc = counts >= 1
    empty = np.zeros((0,), dtype=np.float64)
    if not okc.any():
        eligible[mask] = True  # no chains at all -> no boundary
        return empty, empty, np.zeros(0, dtype=np.int64), eligible
    first = rl.chain_start[:-1][okc]
    last = (rl.chain_start[1:] - 1)[okc]
    crow = rl.chain_row[okc]
    idx = np.concatenate([first, last])
    row = np.concatenate([crow, crow])
    rx = np.round(rl.coords[idx, 0], 12)
    ry = np.round(rl.coords[idx, 1], 12)
    order = np.lexsort((ry, rx, row))
    sr, sx_, sy_ = row[order], rx[order], ry[order]
    sidx = idx[order]
    new = np.ones(len(sr), dtype=bool)
    if len(sr) > 1:
        new[1:] = (sr[1:] != sr[:-1]) | (sx_[1:] != sx_[:-1]) | (sy_[1:] != sy_[:-1])
    gid = np.cumsum(new) - 1
    cnt = np.bincount(gid)
    odd = (cnt & 1).astype(bool)
    # any multiplicity is fine (a 3-way T-node is an ordinary odd boundary
    # point) PROVIDED the group's raw coordinates agree within _EPS — the
    # scalar keys on 12-dp rounding but matches with _EPS, so divergent
    # raw coords inside one group could pick a different representative
    rawx = rl.coords[sidx, 0]
    rawy = rl.coords[sidx, 1]
    starts = np.nonzero(new)[0]
    gminx = np.minimum.reduceat(rawx, starts)
    gmaxx = np.maximum.reduceat(rawx, starts)
    gminy = np.minimum.reduceat(rawy, starts)
    gmaxy = np.maximum.reduceat(rawy, starts)
    spread_bad = ((gmaxx - gminx) > _EPS) | ((gmaxy - gminy) > _EPS)
    bad_rows = np.unique(sr[new][spread_bad])
    eligible[:] = False
    eligible[np.unique(row)] = True
    eligible[bad_rows] = False
    sel = new & odd[gid]
    bidx = sidx[sel]
    return rl.coords[bidx, 0], rl.coords[bidx, 1], sr[sel], eligible


def _points_on_rows(px, py, prow, seg, n, max_pairs, chunk):
    """Per probe point: does it lie ON any segment of its row in ``seg``
    (the scalar ``_on_segment`` arithmetic)?"""
    sx, sy, tx, ty, segrow = seg
    K = len(px)
    out = np.zeros(K, dtype=bool)
    if not K or not len(sx):
        return out
    nseg = np.bincount(segrow, minlength=n)
    offs = np.concatenate([[0], np.cumsum(nseg)])
    sizes = nseg[prow]
    total = int(sizes.sum())
    if total > max_pairs or not total:
        return None if total > max_pairs else out
    blk = np.cumsum(sizes) - sizes
    shift = blk - offs[prow]
    pi_all = np.repeat(np.arange(K, dtype=np.int64), sizes)
    si_all = np.arange(total, dtype=np.int64)
    si_all -= np.repeat(shift, sizes)
    for lo in range(0, total, chunk):
        pi = pi_all[lo:lo + chunk]
        si = si_all[lo:lo + chunk]
        PX, PY = px[pi], py[pi]
        SX, SY, TX, TY = sx[si], sy[si], tx[si], ty[si]
        cr = (TX - SX) * (PY - SY) - (TY - SY) * (PX - SX)
        sc = np.maximum(np.maximum(np.abs(TX - SX), np.abs(TY - SY)), 1.0)
        hit = (
            (np.abs(cr) <= _EPS * sc * sc)
            & (PX >= np.minimum(SX, TX) - _EPS) & (PX <= np.maximum(SX, TX) + _EPS)
            & (PY >= np.minimum(SY, TY) - _EPS) & (PY <= np.maximum(SY, TY) + _EPS)
        )
        out[pi[hit]] = True
    return out


def _points_match_boundary(px, py, prow, bx, by, brow, n):
    """Per probe point: within _EPS (both axes, the scalar _is_boundary_pt
    rule) of some boundary point of its row."""
    K = len(px)
    out = np.zeros(K, dtype=bool)
    if not K or not len(bx):
        return out
    nb = np.bincount(brow, minlength=n)
    offs = np.concatenate([[0], np.cumsum(nb)])
    order = np.argsort(brow, kind="stable")
    obx, oby = bx[order], by[order]
    sizes = nb[prow]
    total = int(sizes.sum())
    if not total:
        return out
    blk = np.cumsum(sizes) - sizes
    shift = blk - offs[prow]
    pi = np.repeat(np.arange(K, dtype=np.int64), sizes)
    bi = np.arange(total, dtype=np.int64) - np.repeat(shift, sizes)
    hit = (np.abs(px[pi] - obx[bi]) <= _EPS) & (np.abs(py[pi] - oby[bi]) <= _EPS)
    out[pi[hit]] = True
    return out


def _assemble_mats(n, ok, cells):
    """Compose 9-char matrices from per-row cell strings (object array)."""
    mats = np.full(n, None, dtype=object)
    sel = np.nonzero(ok)[0]
    if not len(sel):
        return mats
    joined = cells[0][sel]
    for c in cells[1:]:
        joined = np.char.add(joined, c[sel])
    mats[sel] = joined.astype(object)
    return mats


def _cellwhere(flag, yes, no="F"):
    return np.where(flag, yes, no).astype("<U1")


def _contact_only_line_line(rpa: RaggedLines, rpb: RaggedLines, co, any_run,
                            crossed, max_pairs, chunk):
    """Closed-form DE-9IM for line×line rows whose only interaction is
    contact (endpoint touches / collinear runs, no proper crossing) — the
    road-network node shape. Restricted to rows whose boundaries are the
    mod-2 simple cases (every odd endpoint has multiplicity 1, or no
    boundary at all); other rows keep the scalar fallback.

      II: 1 with a collinear run, else 0 when some contact point is
          interior to BOTH sides (not matching either boundary set), else F
      IB/BI/BB: 0 from boundary-endpoint locations on the other line
          (on-segment -> interior side, _EPS-match -> boundary side)
      IE/EI: 1 when some boundary sub-chunk midpoint is OFF the other
          line, else F (the A-subset-of-B case)
      BE/EB: 0 when a boundary endpoint is off the other line
      EE: 2."""
    n = rpa.n
    sp = _contact_split_params(rpa, rpb, co, max_pairs, chunk,
                               with_crossings=True)
    if sp is None:
        return None, None
    (segA, segB, pa_seg, pa_t, pb_seg, pb_t, pa_xy, pb_xy,
     ca_seg, ca_t, cb_seg, cb_t) = sp
    bax, bay, barow, elig_a = _line_boundary_meta(rpa, co)
    bbx, bby, bbrow, elig_b = _line_boundary_meta(rpb, co)
    ok = co & elig_a & elig_b

    # chunk midpoints of each side vs ON-ness of the other (split at
    # touch AND proper-crossing params, the scalar _split_midpoints_segs set)
    amx, amy, aseg = _chunk_midpoints(segA, pa_seg + ca_seg, pa_t + ca_t)
    bmx, bmy, bseg = _chunk_midpoints(segB, pb_seg + cb_seg, pb_t + cb_t)
    arow = segA[4][aseg]
    brow = segB[4][bseg]
    a_on = _points_on_rows(amx, amy, arow, segB, n, max_pairs, chunk)
    b_on = _points_on_rows(bmx, bmy, brow, segA, n, max_pairs, chunk)
    if a_on is None or b_on is None:
        return None, None

    def any_rows(rows_, m_):
        out = np.zeros(n, dtype=bool)
        if m_.any():
            out[rows_[m_]] = True
        return out

    a_off = any_rows(arow, ~a_on)
    b_off = any_rows(brow, ~b_on)
    # consistency: a chunk midpoint ON the other line implies (and is
    # implied by) a collinear run — tolerance disagreements go scalar
    ok &= (any_rows(arow, a_on) == any_run) & (any_rows(brow, b_on) == any_run)

    # contact points (exact vertex coords) classified per side
    hx = ([a[:, 0] for a in pa_xy] + [b[:, 0] for b in pb_xy])
    hy = ([a[:, 1] for a in pa_xy] + [b[:, 1] for b in pb_xy])
    hrow = ([segA[4][s] for s in pa_seg] + [segB[4][s] for s in pb_seg])
    ii0 = np.zeros(n, dtype=bool)
    if hx:
        hx = np.concatenate(hx); hy = np.concatenate(hy)
        hrow = np.concatenate(hrow)
        on_ba = _points_match_boundary(hx, hy, hrow, bax, bay, barow, n)
        on_bb = _points_match_boundary(hx, hy, hrow, bbx, bby, bbrow, n)
        ii0 = any_rows(hrow, ~on_ba & ~on_bb)

    # boundary-endpoint locations: A endpoints vs B and vice versa
    def bnd_locs(bx_, by_, brow_, other_seg, other_bx, other_by, other_brow):
        on_seg_ = _points_on_rows(bx_, by_, brow_, other_seg, n, max_pairs, chunk)
        if on_seg_ is None:
            return None
        match_ = _points_match_boundary(
            bx_, by_, brow_, other_bx, other_by, other_brow, n)
        interior_ = any_rows(brow_, on_seg_ & ~match_)
        bnd_ = any_rows(brow_, match_)
        off_ = any_rows(brow_, ~on_seg_ & ~match_)
        return interior_, bnd_, off_

    la = bnd_locs(bax, bay, barow, segB, bbx, bby, bbrow)
    lb = bnd_locs(bbx, bby, bbrow, segA, bax, bay, barow)
    if la is None or lb is None:
        return None, None
    bi_in, bb_a, be_off = la   # A boundary vs B: interior / boundary / off
    ib_in, _bb_b, eb_off = lb  # B boundary vs A

    cells = [
        _cellwhere(any_run, "1", "F"),  # II placeholder, refined below
        _cellwhere(ib_in, "0"),
        _cellwhere(a_off, "1"),
        _cellwhere(bi_in, "0"),
        _cellwhere(bb_a, "0"),
        _cellwhere(be_off, "0"),
        _cellwhere(b_off, "1"),
        _cellwhere(eb_off, "0"),
        np.full(n, "2", dtype="<U1"),
    ]
    # a proper crossing is interior x interior dim 0 (scalar kind-2 rule,
    # unconditional — even when the crossing point is a chain endpoint)
    cells[0] = np.where(
        any_run, "1", np.where(ii0 | crossed, "0", "F")).astype("<U1")
    return _assemble_mats(n, ok, cells), ok


def _contact_only_line_poly(line: RaggedLines, poly: RaggedPolygons, co,
                            any_run, crossed, swap, max_pairs, chunk):
    """Closed-form DE-9IM for line×polygon rows whose boundaries contact
    without a proper crossing (a line running along or touching a
    polygon edge). Line rows restricted like the line×line bucket.

    Line-side rows (before the optional transpose for polygon×line):
      II: 1 when a line sub-chunk midpoint is strictly inside, else F
      IB: 1 with a collinear run, 0 when a contact point is interior to
          the line (not an endpoint), else F
      IE: 1 when a sub-chunk midpoint is strictly outside, else F
      BI/BB/BE: 0 from endpoint locations (empty-boundary rows -> F)
      EI: 2 always (a 2-D interior is never covered by a line)
      EB: 1 when some shell vertex is clearly off the line (the scalar's
          probe sample); rows with no such vertex stay undecided
      EE: 2."""
    n = line.n
    sp = _contact_split_params(line, poly, co, max_pairs, chunk,
                               with_crossings=True)
    if sp is None:
        return None, None
    (segL, segP, pl_seg, pl_t, pp_seg, pp_t, pl_xy, pp_xy,
     cl_seg, cl_t, cp_seg, cp_t) = sp
    blx, bly, blrow, elig = _line_boundary_meta(line, co)
    ok = co & elig

    lmx, lmy, lseg = _chunk_midpoints(segL, pl_seg + cl_seg, pl_t + cl_t)
    lrow = segL[4][lseg]
    loc = locate_points_multi(poly, lmx, lmy, lrow)

    def any_rows(rows_, m_):
        out = np.zeros(n, dtype=bool)
        if m_.any():
            out[rows_[m_]] = True
        return out

    li = any_rows(lrow, loc == 2)
    lo = any_rows(lrow, loc == 0)
    lon = any_rows(lrow, loc == 1)
    ok &= lon == any_run

    # contact points interior to the line (IB=0 signal without a run)
    hx = ([a[:, 0] for a in pl_xy] + [b[:, 0] for b in pp_xy])
    hy = ([a[:, 1] for a in pl_xy] + [b[:, 1] for b in pp_xy])
    hrow = ([segL[4][s] for s in pl_seg] + [segP[4][s] for s in pp_seg])
    ib0 = np.zeros(n, dtype=bool)
    if hx:
        hx = np.concatenate(hx); hy = np.concatenate(hy)
        hrow = np.concatenate(hrow)
        mb = _points_match_boundary(hx, hy, hrow, blx, bly, blrow, n)
        ib0 = any_rows(hrow, ~mb)

    # boundary-point (not chain-endpoint!) locations: a closed or
    # even-degree node is line-INTERIOR, so only the mod-2 boundary set
    # classifies the B row (empty set -> F row automatically)
    e_in = np.zeros(n, dtype=bool)
    e_on = np.zeros(n, dtype=bool)
    e_out = np.zeros(n, dtype=bool)
    if len(blrow):
        bloc = locate_points_multi(poly, blx, bly, blrow)
        e_in = any_rows(blrow, bloc == 2)
        e_on = any_rows(blrow, bloc == 1)
        e_out = any_rows(blrow, bloc == 0)

    # EB: some shell-ring vertex of the polygon clearly off the line (the
    # scalar's _exterior_terms vertex sample). Enumerate shell vertices.
    counts_r = np.diff(poly.ring_start)
    vring = np.repeat(np.arange(len(poly.ring_row), dtype=np.int64), counts_r)
    shell_sel = ~poly.ring_hole[vring] & co[poly.ring_row[vring]]
    svx = poly.coords[shell_sel, 0]
    svy = poly.coords[shell_sel, 1]
    svrow = poly.ring_row[vring[shell_sel]]
    on_line = _points_on_rows(svx, svy, svrow, segL, n, max_pairs, chunk)
    if on_line is None:
        return None, None
    near_b = _points_match_boundary(svx, svy, svrow, blx, bly, blrow, n)
    eb1 = any_rows(svrow, ~on_line & ~near_b)
    ok &= eb1 | ~co  # no clearly-off shell vertex -> undecided

    cells = [
        _cellwhere(li, "1"),
        # a proper crossing point is line-interior x ring-boundary dim 0
        np.where(any_run, "1", np.where(ib0 | crossed, "0", "F")).astype("<U1"),
        _cellwhere(lo, "1"),
        _cellwhere(e_in, "0"),
        _cellwhere(e_on, "0"),
        _cellwhere(e_out, "0"),
        np.full(n, "2", dtype="<U1"),
        _cellwhere(eb1, "1"),
        np.full(n, "2", dtype="<U1"),
    ]
    mats = _assemble_mats(n, ok, cells)
    if swap:
        sel = np.nonzero(ok)[0]
        for i in sel:
            m = mats[i]
            mats[i] = m[0] + m[3] + m[6] + m[1] + m[4] + m[7] + m[2] + m[5] + m[8]
    return mats, ok


def pairs_relate(
    rpa,
    rpb,
    max_pairs: int = 64_000_000,
    chunk: int = 1 << 20,
):
    """Row-paired conservative DE-9IM ``relate`` over CSR batches
    (polygonal or lineal sides). Returns ``(matrices, decided)`` —
    ``matrices`` an object array of 9-char DE-9IM strings for decided
    rows (None elsewhere); undecided rows carry genuine boundary
    interplay and go to the scalar kernel. None when the segment-pair
    product exceeds ``max_pairs``. Decided buckets, each with exact
    scalar parity:

    - NO COMMON POINT (:func:`pairs_intersect` False): the matrix is
      closed-form from the two families' dimensions — ``FF{dimA} FF{bdimA}
      {dimB}{bdimB} 2`` with the lineal boundary symbol from the per-row
      mod-2 endpoint rule (:func:`_lineal_has_boundary`).
    - STRICT CONTAINMENT (:func:`pairs_within` certain-TRUE, either
      direction; container side polygonal): every vertex of the inner
      side strictly interior with zero segment contact pins every cell —
      polygon-in-polygon ``2FF1FF212``, line-in-polygon
      ``1FF{bdim}FF212``, and their transposes for B-inside-A.
    - TRANSVERSAL OVERLAP (areal×areal only): at least one PROPER
      boundary crossing and zero touch/collinear contact. Each transversal
      crossing puts all four quadrant sets (int∩int, int∩ext, ext∩int,
      ext∩ext) locally nonempty and sends each boundary through the
      other's interior and exterior, while crossing points are 0-dim —
      every cell of ``212101212`` is pinned at its maximum, and any
      configuration that could raise BB to 1 (a collinear shared run) or
      alter an F is contact, which is excluded. This is the common
      overlap shape in a spatial-join refinement, so the bulk of
      candidate pairs never reach the scalar kernel.

    Rows with degenerate units (collapsed rings, single-point chains) or
    NaN bounds (empties) always stay undecided — the scalar path's
    sampling answers those its own way."""
    n = rpa.n
    if rpb.n != n:
        raise ValueError(f"row counts differ: {n} vs {rpb.n}")
    mats = np.full(n, None, dtype=object)
    decided = np.zeros(n, dtype=bool)
    # ONE segment-pair sweep serves every bucket below: the flags are
    # per-row and orientation-symmetric (crossing/contact of (A,B) ==
    # (B,A)), so pairs_intersect and both pairs_within directions reuse it
    ba, bb_ = bounds(rpa), bounds(rpb)
    with np.errstate(invalid="ignore"):
        overlap = (
            (ba[:, 0] <= bb_[:, 2]) & (bb_[:, 0] <= ba[:, 2])
            & (ba[:, 1] <= bb_[:, 3]) & (bb_[:, 1] <= ba[:, 3])
        )
    overlap &= ~(np.isnan(ba[:, 0]) | np.isnan(bb_[:, 0]))
    shared = _segpair_flags(rpa, rpb, overlap, max_pairs, chunk)
    if shared is None:
        return None
    inter = pairs_intersect(
        rpa, rpb, max_pairs=max_pairs, chunk=chunk, _flags=shared)
    if inter is None:
        return None
    bad = np.isnan(ba[:, 0]) | np.isnan(bb_[:, 0])
    dim_a, bdim_a, deg_a = _family_meta(rpa)
    dim_b, bdim_b, deg_b = _family_meta(rpb)
    bad |= deg_a | deg_b

    dis = ~inter & ~bad
    if dis.any():
        for sa in np.unique(bdim_a[dis]):
            for sb in np.unique(bdim_b[dis]):
                m = dis & (bdim_a == sa) & (bdim_b == sb)
                mats[m] = f"FF{dim_a}FF{sa}{dim_b}{sb}2"
        decided |= dis

    act = inter & ~bad
    if act.any():
        if isinstance(rpb, RaggedPolygons):
            res, dec = pairs_within(
                rpa, rpb, max_pairs=max_pairs, chunk=chunk, _flags=shared)
            inside = act & dec & res
            if inside.any():
                if isinstance(rpa, RaggedPolygons):
                    mats[inside] = "2FF1FF212"
                else:
                    for sa in np.unique(bdim_a[inside]):
                        m = inside & (bdim_a == sa)
                        mats[m] = f"1FF{sa}FF212"
                decided |= inside
                act &= ~inside
        if act.any() and isinstance(rpa, RaggedPolygons):
            res, dec = pairs_within(
                rpb, rpa, max_pairs=max_pairs, chunk=chunk, _flags=shared)
            inside = act & dec & res
            if inside.any():
                if isinstance(rpb, RaggedPolygons):
                    mats[inside] = "212FF1FF2"
                else:
                    for sb in np.unique(bdim_b[inside]):
                        m = inside & (bdim_b == sb)
                        mats[m] = f"1{sb}2FF1FF2"
                decided |= inside
        rem = act & ~decided
        if rem.any():
            _, any_proper, any_contact, any_run = shared
            cross = rem & any_proper & ~any_contact
            if cross.any():
                a_poly = isinstance(rpa, RaggedPolygons)
                b_poly = isinstance(rpb, RaggedPolygons)
                if a_poly and b_poly:
                    mats[cross] = "212101212"
                    decided |= cross
                elif a_poly != b_poly:
                    # transversal line×polygon: II/IB/IE and the E row are
                    # pinned by any crossing; the line-boundary row comes
                    # from the mod-2 boundary points — fully-closed rows
                    # have none (F row), simple-open rows (every chain
                    # endpoint unique, so boundary == endpoints) classify
                    # by endpoint location; anything else stays undecided
                    line, poly = (rpb, rpa) if a_poly else (rpa, rpb)
                    line_bdim = bdim_b if a_poly else bdim_a
                    e_in, e_out, e_on, simple = _endpoint_locs(line, poly, cross)
                    closed = cross & (line_bdim == "F")
                    open_ok = cross & (line_bdim == "0") & simple & ~e_on
                    for m_base, bi_f, be_f in (
                        [(closed, None, None)]
                        + [(open_ok & (e_in == i) & (e_out == o), i, o)
                           for i in (True, False) for o in (True, False)]
                    ):
                        if not m_base.any():
                            continue
                        bi = "F" if bi_f is None else ("0" if bi_f else "F")
                        be = "F" if be_f is None else ("0" if be_f else "F")
                        if a_poly:  # transpose of the line-vs-poly matrix
                            mats[m_base] = f"1{bi}20F11{be}2"
                        else:
                            mats[m_base] = f"101{bi}F{be}212"
                    decided |= closed | open_ok
                else:
                    # transversal line×line: crossing points are interior
                    # on both sides; no-contact keeps every endpoint off
                    # the other line, so the boundary rows reduce to the
                    # per-row mod-2 dims
                    for sa in np.unique(bdim_a[cross]):
                        for sb in np.unique(bdim_b[cross]):
                            m = cross & (bdim_a == sa) & (bdim_b == sb)
                            mats[m] = f"0F1FF{sa}1{sb}2"
                    decided |= cross
        rem = act & ~decided
        if rem.any() and isinstance(rpa, RaggedPolygons) and isinstance(rpb, RaggedPolygons):
            _, any_proper, any_contact, any_run = shared
            # MIXED areal×areal (r4g): a proper crossing pins every cell at
            # its maximum regardless of any additional contact — the
            # crossing sends each boundary through the other's interior and
            # exterior (IB=BI=BE=EB=1, II=IE=EI=2) — except BB, which is 1
            # exactly when some collinear run of positive length exists
            # (scalar kind 3) and otherwise 0 (crossing/touch points)
            mixed = rem & any_proper & any_contact
            if mixed.any():
                mats[mixed & any_run] = "212111212"
                mats[mixed & ~any_run] = "212101212"
                decided |= mixed
            # CONTACT-ONLY areal×areal (r4g): touch / shared-boundary rows
            co = rem & any_contact & ~any_proper
            if co.any():
                co_mats, co_dec = _contact_only_matrices(
                    rpa, rpb, co, any_run, max_pairs, chunk)
                if co_mats is not None:
                    sel = co & co_dec
                    mats[sel] = co_mats[sel]
                    decided |= sel
        # CONTACT / MIXED lineal combinations (r4g): network-node touches,
        # boundary-following lines, and crossing+contact rows — the chunk
        # split set includes proper-crossing params, so any interacting
        # lineal row with simple mod-2 boundaries composes closed-form
        rem = act & ~decided
        if rem.any():
            _, any_proper, any_contact, any_run = shared
            co = rem & (any_contact | any_proper)
            if co.any():
                a_poly = isinstance(rpa, RaggedPolygons)
                b_poly = isinstance(rpb, RaggedPolygons)
                res = (None, None)
                if a_poly != b_poly:
                    line, poly_, swap = (
                        (rpb, rpa, True) if a_poly else (rpa, rpb, False))
                    res = _contact_only_line_poly(
                        line, poly_, co, any_run, any_proper, swap,
                        max_pairs, chunk)
                elif not a_poly and not b_poly:
                    res = _contact_only_line_line(
                        rpa, rpb, co, any_run, any_proper, max_pairs, chunk)
                if res[0] is not None:
                    sel = co & res[1]
                    mats[sel] = res[0][sel]
                    decided |= sel
    return mats, decided


def _endpoint_locs(line: RaggedLines, poly: RaggedPolygons, mask: np.ndarray):
    """(any_in, any_out, any_on, simple) per row over the chain endpoints
    of ``line`` located in ``poly`` (rows in mask). ``simple`` = every
    endpoint coordinate (12-dp rounded, the scalar boundary rule) appears
    exactly once in its row — then boundary points == endpoints and the
    locations classify the DE-9IM boundary row exactly."""
    n = line.n
    any_in = np.zeros(n, dtype=bool)
    any_out = np.zeros(n, dtype=bool)
    any_on = np.zeros(n, dtype=bool)
    simple = np.zeros(n, dtype=bool)
    counts = np.diff(line.chain_start)
    ok = counts >= 1
    if not ok.any():
        return any_in, any_out, any_on, simple
    first = line.chain_start[:-1][ok]
    last = (line.chain_start[1:] - 1)[ok]
    crow = line.chain_row[ok]
    idx = np.concatenate([first, last])
    row = np.concatenate([crow, crow])
    rx = np.round(line.coords[idx, 0], 12)
    ry = np.round(line.coords[idx, 1], 12)
    order = np.lexsort((ry, rx, row))
    sr, sx, sy = row[order], rx[order], ry[order]
    new = np.ones(len(sr), dtype=bool)
    if len(sr) > 1:
        new[1:] = (sr[1:] != sr[:-1]) | (sx[1:] != sx[:-1]) | (sy[1:] != sy[:-1])
    gid = np.cumsum(new) - 1
    cnt = np.bincount(gid)
    dup_rows = sr[new][cnt != 1]
    simple[np.unique(row)] = True
    simple[dup_rows] = False
    sel = np.nonzero(mask[row])[0]
    if not len(sel):
        return any_in, any_out, any_on, simple
    loc = locate_points_multi(
        poly, line.coords[idx[sel], 0], line.coords[idx[sel], 1], row[sel]
    )
    r = row[sel]
    any_in[r[loc == 2]] = True
    any_on[r[loc == 1]] = True
    any_out[r[loc == 0]] = True
    return any_in, any_out, any_on, simple


def pairs_distance(
    rpa,
    rpb,
    max_pairs: int = 64_000_000,
    chunk: int = 1 << 20,
) -> np.ndarray | None:
    """Row-paired ``distance`` over CSR batches (polygonal/lineal sides):
    0.0 where the pair intersects, NaN where either side is empty, else
    the minimum over the IDENTICAL candidate set algos.distance scans
    (every vertex of one side against every segment / isolated point of
    the other, both directions, same _seg_dist_point arithmetic) — so
    results are float-equal to the scalar kernel. None when the pair
    product exceeds ``max_pairs`` or a row has a single-coordinate chain
    or ring (caller falls back per-row)."""
    n = rpa.n
    if rpb.n != n:
        raise ValueError(f"row counts differ: {n} vs {rpb.n}")
    for p in (rpa, rpb):
        if (np.diff(_unit_arrays(p)[0]) == 1).any():
            return None  # single-coordinate units: per-row (hypot terms)
    inter = pairs_intersect(rpa, rpb, max_pairs=max_pairs, chunk=chunk)
    if inter is None:
        return None
    out = np.zeros(n, dtype=np.float64)
    empty = (np.diff(rpa.row_start) == 0) | (np.diff(rpb.row_start) == 0)
    out[empty] = np.nan
    rem = ~inter & ~empty
    if rem.any():
        best = np.full(n, np.inf)
        if not _min_vertex_to_side(best, rpa, rpb, rem, max_pairs, chunk):
            return None
        if not _min_vertex_to_side(best, rpb, rpa, rem, max_pairs, chunk):
            return None
        out[rem] = best[rem]
    return out


# ----------------------------------------------------------------------
# Vectorized constructive ops over CSR batches (r5 — VERDICT r4 #4:
# simplify / convex_hull previously fell to the per-row factory fallback
# on ragged batches)
# ----------------------------------------------------------------------

def dp_keep_mask(coords: np.ndarray, unit_start: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker keep-mask for EVERY unit (ring/chain) of a CSR batch
    at once. Exact scalar parity with ``algos._dp_simplify``: the same
    ``_seg_dist_point`` arithmetic, strict ``> tol``, and the same
    first-of-max tie-break — the kept vertex SET of DP is independent of
    interval processing order, so level-synchronous processing (all active
    intervals per pass) gives identical output to the scalar's stack.

    Units shorter than 3 points keep every vertex (the scalar's
    ``len(c) < 3`` passthrough)."""
    from polars_st_spark.geo.algos import _seg_dist_point

    us = np.asarray(unit_start, dtype=np.int64)
    n = int(us[-1]) if len(us) else 0
    keep = np.zeros(n, dtype=bool)
    if not n or len(us) < 2:
        return keep
    lengths = np.diff(us)
    unit_of = np.repeat(np.arange(len(lengths), dtype=np.int64), lengths)
    keep[(lengths < 3)[unit_of]] = True
    big = lengths >= 3
    I = us[:-1][big]
    J = (us[1:] - 1)[big]
    keep[I] = True
    keep[J] = True
    x, y = coords[:, 0], coords[:, 1]
    while len(I):
        m = J - I - 1
        total = int(m.sum())
        starts = np.cumsum(m) - m
        ramp = np.arange(total, dtype=np.int64) - np.repeat(starts, m)
        pidx = np.repeat(I + 1, m) + ramp
        iv = np.repeat(np.arange(len(I), dtype=np.int64), m)
        d = _seg_dist_point(x[pidx], y[pidx], x[I][iv], y[I][iv], x[J][iv], y[J][iv])
        dmax = np.maximum.reduceat(d, starts)
        # first index achieving the max inside each interval (float-equal
        # compare against the interval's own reduceat max — exact)
        cand = d == dmax[iv]
        kpos = np.minimum.reduceat(np.where(cand, pidx, np.iinfo(np.int64).max), starts)
        split = dmax > tol
        kpos = kpos[split]
        keep[kpos] = True
        I2 = np.concatenate([I[split], kpos])
        J2 = np.concatenate([kpos, J[split]])
        live = J2 - I2 >= 2
        I, J = I2[live], J2[live]
    return keep


def encode_polygonal_rows(
    n: int,
    row_type: np.ndarray,
    part_row: np.ndarray,
    ring_part: np.ndarray,
    ring_npts: np.ndarray,
    coords: np.ndarray,
    srid: int,
    null_mask: np.ndarray,
) -> list:
    """Assemble little-endian EWKB Polygon/MultiPolygon rows from CSR
    pieces without per-row Python geometry objects — byte-identical to
    ``to_ewkb(Geometry(...))`` on the same structure.

    row_type: 3 (Polygon) or 6 (MultiPolygon) per row; part_row: owning
    row per part (parts in row order); ring_part: owning part per ring;
    ring_npts: vertex count per ring (rings in part order); coords:
    (sum(ring_npts), 2) concatenated vertices."""
    row_type = np.asarray(row_type, dtype=np.int64)
    part_row = np.asarray(part_row, dtype=np.int64)
    ring_part = np.asarray(ring_part, dtype=np.int64)
    ring_npts = np.asarray(ring_npts, dtype=np.int64)
    with_srid = srid != 0
    hdr = 5 + (4 if with_srid else 0)
    P = len(part_row)
    R = len(ring_part)
    ring_bytes = 4 + 16 * ring_npts
    part_nrings = np.bincount(ring_part, minlength=P)
    part_ring_bytes = np.zeros(P, dtype=np.int64)
    np.add.at(part_ring_bytes, ring_part, ring_bytes)
    # per-part payload: nrings word + its rings
    part_payload = 4 + part_ring_bytes
    row_nparts = np.bincount(part_row, minlength=n)
    row_part_payload = np.zeros(n, dtype=np.int64)
    np.add.at(row_part_payload, part_row, part_payload)
    is_multi = row_type == 6
    # Polygon row: hdr + (nrings + rings); Multi row: hdr + nparts word +
    # per part (5-byte header + payload)
    row_len = np.where(
        is_multi,
        hdr + 4 + row_part_payload + 5 * row_nparts,
        hdr + row_part_payload - 4 * row_nparts + 4,
    )
    row_len[null_mask] = 0
    row_off = np.concatenate([[0], np.cumsum(row_len)])
    buf = np.zeros(int(row_off[-1]), dtype=np.uint8)
    rows = np.nonzero(~null_mask)[0]
    # --- row headers ---
    ro = row_off[rows]
    buf[ro] = 1
    word = np.where(row_type[rows] == 6, 6, 3).astype(np.uint32)
    if with_srid:
        word = word | np.uint32(_SRID_FLAG)
    w8 = word.astype("<u4").reshape(-1, 1).view(np.uint8)
    buf[ro[:, None] + np.arange(1, 5)] = w8
    pos = ro + 5
    if with_srid:
        s8 = np.full(len(rows), srid, dtype="<u4").reshape(-1, 1).view(np.uint8)
        buf[pos[:, None] + np.arange(4)] = s8
        pos = pos + 4
    # count word right after the header: nparts for multi rows (written
    # here); single-polygon rows get their nrings via the part pass below
    row_pos = np.zeros(n, dtype=np.int64)
    row_pos[rows] = pos
    multi_rows = rows[is_multi[rows]]
    if len(multi_rows):
        mr8 = row_nparts[multi_rows].astype("<u4").reshape(-1, 1).view(np.uint8)
        buf[row_pos[multi_rows][:, None] + np.arange(4)] = mr8
    # --- part positions ---
    # parts are laid out in (row, part) order; compute each part's start
    part_off = np.zeros(P, dtype=np.int64)
    cur = row_pos.copy()
    cur[is_multi] += 4  # skip nparts word
    # sequential within row: prefix-sum part payloads per row
    part_span = np.where(is_multi[part_row], 5 + part_payload, part_payload)
    # order: part_row is nondecreasing (parts in row order)
    gstart = np.concatenate([[0], np.cumsum(part_span)])[:-1]
    row_first_part = np.searchsorted(part_row, np.arange(n), side="left")
    part_off = cur[part_row] + gstart - gstart[row_first_part[part_row]]
    # multi parts carry their own 5-byte header (no srid inside parts)
    mp = is_multi[part_row]
    if mp.any():
        po = part_off[mp]
        buf[po] = 1
        pw = np.full(mp.sum(), 3, dtype="<u4").reshape(-1, 1).view(np.uint8)
        buf[po[:, None] + np.arange(1, 5)] = pw
    ring_count_pos = part_off + np.where(mp, 5, 0)
    rc8 = part_nrings.astype("<u4").reshape(-1, 1).view(np.uint8)
    buf[ring_count_pos[:, None] + np.arange(4)] = rc8
    # --- ring headers + coordinates ---
    ring_span = ring_bytes
    rstart_in_part = np.concatenate([[0], np.cumsum(ring_span)])[:-1]
    part_first_ring = np.searchsorted(ring_part, np.arange(P), side="left")
    ring_off = (ring_count_pos + 4)[ring_part] + rstart_in_part - rstart_in_part[part_first_ring[ring_part]]
    rn8 = ring_npts.astype("<u4").reshape(-1, 1).view(np.uint8)
    buf[ring_off[:, None] + np.arange(4)] = rn8
    # coordinate bytes: each vertex is 16 bytes at ring_off+4 + 16*pos
    N = int(ring_npts.sum())
    if N:
        vring = np.repeat(np.arange(R, dtype=np.int64), ring_npts)
        vramp = np.arange(N, dtype=np.int64) - np.repeat(
            np.cumsum(ring_npts) - ring_npts, ring_npts)
        voff = ring_off[vring] + 4 + 16 * vramp
        cb = np.ascontiguousarray(coords[:, :2], dtype="<f8").view(np.uint8).reshape(N, 16)
        buf[voff[:, None] + np.arange(16)] = cb
    bts = buf.tobytes()
    out = []
    for i in range(n):
        if null_mask[i]:
            out.append(None)
        else:
            out.append(bts[row_off[i]:row_off[i + 1]])
    return out


def encode_lineal_rows(
    n: int,
    row_type: np.ndarray,
    chain_row: np.ndarray,
    chain_npts: np.ndarray,
    coords: np.ndarray,
    srid: int,
    null_mask: np.ndarray,
) -> list:
    """Assemble little-endian EWKB LineString/MultiLineString rows from CSR
    pieces — byte-identical to ``to_ewkb`` on the same structure.
    row_type: 2 (LineString) or 5 (MultiLineString) per row."""
    row_type = np.asarray(row_type, dtype=np.int64)
    chain_row = np.asarray(chain_row, dtype=np.int64)
    chain_npts = np.asarray(chain_npts, dtype=np.int64)
    with_srid = srid != 0
    hdr = 5 + (4 if with_srid else 0)
    C = len(chain_row)
    chain_bytes = 4 + 16 * chain_npts      # npts word + vertices
    row_nchains = np.bincount(chain_row, minlength=n)
    row_chain_bytes = np.zeros(n, dtype=np.int64)
    np.add.at(row_chain_bytes, chain_row, chain_bytes)
    is_multi = row_type == 5
    # LineString row: hdr + npts + pts (exactly one chain);
    # Multi row: hdr + nchains + per chain (5-byte header + payload)
    row_len = np.where(
        is_multi,
        hdr + 4 + row_chain_bytes + 5 * row_nchains,
        hdr + row_chain_bytes,
    )
    # an empty LineString row (0 chains) still writes npts=0
    row_len[~is_multi & (row_nchains == 0)] = hdr + 4
    row_len[null_mask] = 0
    row_off = np.concatenate([[0], np.cumsum(row_len)])
    buf = np.zeros(int(row_off[-1]), dtype=np.uint8)
    rows = np.nonzero(~null_mask)[0]
    ro = row_off[rows]
    buf[ro] = 1
    word = np.where(row_type[rows] == 5, 5, 2).astype(np.uint32)
    if with_srid:
        word = word | np.uint32(_SRID_FLAG)
    buf[ro[:, None] + np.arange(1, 5)] = word.astype("<u4").reshape(-1, 1).view(np.uint8)
    pos = ro + 5
    if with_srid:
        s8 = np.full(len(rows), srid, dtype="<u4").reshape(-1, 1).view(np.uint8)
        buf[pos[:, None] + np.arange(4)] = s8
        pos = pos + 4
    row_pos = np.zeros(n, dtype=np.int64)
    row_pos[rows] = pos
    multi_rows = rows[is_multi[rows]]
    if len(multi_rows):
        mr8 = row_nchains[multi_rows].astype("<u4").reshape(-1, 1).view(np.uint8)
        buf[row_pos[multi_rows][:, None] + np.arange(4)] = mr8
    # chain positions (chains in row order)
    chain_span = np.where(is_multi[chain_row], 5 + chain_bytes, chain_bytes)
    gstart = np.concatenate([[0], np.cumsum(chain_span)])[:-1]
    row_first_chain = np.searchsorted(chain_row, np.arange(n), side="left")
    cur = row_pos.copy()
    cur[is_multi] += 4
    chain_off = cur[chain_row] + gstart - gstart[row_first_chain[chain_row]]
    mc = is_multi[chain_row]
    if mc.any():
        co = chain_off[mc]
        buf[co] = 1
        cw = np.full(int(mc.sum()), 2, dtype="<u4").reshape(-1, 1).view(np.uint8)
        buf[co[:, None] + np.arange(1, 5)] = cw
    npts_pos = chain_off + np.where(mc, 5, 0)
    cn8 = chain_npts.astype("<u4").reshape(-1, 1).view(np.uint8)
    buf[npts_pos[:, None] + np.arange(4)] = cn8
    N = int(chain_npts.sum())
    if N:
        vchain = np.repeat(np.arange(C, dtype=np.int64), chain_npts)
        vramp = np.arange(N, dtype=np.int64) - np.repeat(
            np.cumsum(chain_npts) - chain_npts, chain_npts)
        voff = npts_pos[vchain] + 4 + 16 * vramp
        cb = np.ascontiguousarray(coords[:, :2], dtype="<f8").view(np.uint8).reshape(N, 16)
        buf[voff[:, None] + np.arange(16)] = cb
    bts = buf.tobytes()
    out = []
    for i in range(n):
        out.append(None if null_mask[i] else bts[row_off[i]:row_off[i + 1]])
    return out


def convex_hull_rows(coords: np.ndarray, row_start: np.ndarray, n: int):
    """Per-row convex hulls over a CSR batch via a LEVEL-SYNCHRONOUS
    Andrew monotone chain: every active row performs exactly one stack
    push or pop per pass, with the scalar ``algos.convex_hull`` cross
    arithmetic evaluated in the same per-row order — so the output is
    bit-identical to the scalar kernel for every input, including the
    near-collinear float-noise cases where any OTHER hull algorithm's
    different arithmetic would disagree (a QuickHull variant was tried and
    rejected for exactly that).

    Returns ``(kind, ring_npts, ring_coords, deg_pts)``:
    kind per row — 0 empty, 1 point, 2 line (2-point), 3 polygon;
    ring_npts — closing-vertex-inclusive counts for polygon rows (in row
    order); ring_coords — their concatenated CCW vertices; deg_pts —
    (n, 4) [ax, ay, bx, by] endpoints for point/line rows."""
    rs = np.asarray(row_start, dtype=np.int64)
    npts_row = np.diff(rs)
    row_of = np.repeat(np.arange(n, dtype=np.int64), npts_row)
    x, y = coords[:, 0], coords[:, 1]
    # scalar prologue: np.unique(axis=0) per row == sort by (row, x, y) +
    # consecutive dedup (np.unique sorts rows lexicographically)
    order = np.lexsort((y, x, row_of))
    rr, xx, yy = row_of[order], x[order], y[order]
    first = np.ones(len(rr), dtype=bool)
    if len(rr) > 1:
        first[1:] = (rr[1:] != rr[:-1]) | (xx[1:] != xx[:-1]) | (yy[1:] != yy[:-1])
    rr, xx, yy = rr[first], xx[first], yy[first]
    cnt = np.bincount(rr, minlength=n)
    start = np.concatenate([[0], np.cumsum(cnt)])
    kind = np.zeros(n, dtype=np.int8)
    kind[cnt == 1] = 1
    deg_pts = np.full((n, 4), np.nan)
    one = cnt == 1
    deg_pts[one, 0] = xx[start[:-1][one]]
    deg_pts[one, 1] = yy[start[:-1][one]]
    multi = np.nonzero(cnt >= 2)[0]
    A_i = start[:-1][multi]
    B_i = (start[1:] - 1)[multi]
    deg_pts[multi, 0], deg_pts[multi, 1] = xx[A_i], yy[A_i]
    deg_pts[multi, 2], deg_pts[multi, 3] = xx[B_i], yy[B_i]
    M = len(multi)
    if not M:
        return kind, np.empty(0, np.int64), np.empty((0, 2)), deg_pts

    mcnt = cnt[multi]
    sbase = np.concatenate([[0], np.cumsum(mcnt)])[:-1]

    def half_chains(ascending: bool):
        """Scalar `half()` for every multi row at once. Returns per-row
        (stack xs, stack ys CSR buffer, tops). The stacks start zeroed:
        the cross product is evaluated for every live row before the
        ``can`` mask, so a row holding fewer than two points reads slots
        nothing has written yet, and those must hold finite values."""
        sx = np.zeros(int(mcnt.sum()))
        sy = np.zeros(int(mcnt.sum()))
        top = np.zeros(M, dtype=np.int64)
        if ascending:
            ip = start[:-1][multi].copy()
            end = start[1:][multi]
            step = 1
        else:
            ip = (start[1:] - 1)[multi].copy()
            end = start[:-1][multi] - 1
            step = -1
        act = np.arange(M, dtype=np.int64)
        while len(act):
            live = ip[act] != end[act]
            act = act[live]
            if not len(act):
                break
            ia = ip[act]
            px, py = xx[ia], yy[ia]
            t = top[act]
            can = t >= 2
            o1 = sbase[act] + np.maximum(t - 1, 0)
            o2 = sbase[act] + np.maximum(t - 2, 0)
            # the scalar's exact expression and operand order
            cr = ((sx[o1] - sx[o2]) * (py - sy[o2])
                  - (sy[o1] - sy[o2]) * (px - sx[o2]))
            pop = can & (cr <= 0)
            top[act[pop]] -= 1
            push = ~pop
            ap = act[push]
            off = sbase[ap] + top[ap]
            sx[off] = px[push]
            sy[off] = py[push]
            top[ap] += 1
            ip[ap] += step
        return sx, sy, top

    lx, ly, ltop = half_chains(True)
    ux, uy, utop = half_chains(False)
    # hull = lower[:-1] + upper[:-1]; < 3 points -> LineString(P0, Pend)
    hull_n = (ltop - 1) + (utop - 1)
    is_poly = hull_n >= 3
    kind[multi[is_poly]] = 3
    kind[multi[~is_poly]] = 2
    pr = np.nonzero(is_poly)[0]        # indices into multi
    ring_npts = hull_n[pr] + 1
    roff = np.concatenate([[0], np.cumsum(ring_npts)])
    total = int(roff[-1])
    ring_coords = np.empty((total, 2))
    # scatter lower chains [0 .. ltop-1): positions roff + i
    ln = (ltop - 1)[pr]
    un = (utop - 1)[pr]
    if total:
        li = np.arange(int(ln.sum()), dtype=np.int64)
        lw = li - np.repeat(np.cumsum(ln) - ln, ln)
        lrow = np.repeat(np.arange(len(pr)), ln)
        src = sbase[pr][lrow] + lw
        dst = roff[:-1][lrow] + lw
        ring_coords[dst, 0] = lx[src]
        ring_coords[dst, 1] = ly[src]
        ui = np.arange(int(un.sum()), dtype=np.int64)
        uw = ui - np.repeat(np.cumsum(un) - un, un)
        urow = np.repeat(np.arange(len(pr)), un)
        usrc = sbase[pr][urow] + uw
        udst = roff[:-1][urow] + ln[urow] + uw
        ring_coords[udst, 0] = ux[usrc]
        ring_coords[udst, 1] = uy[usrc]
        # closing vertex = first vertex
        ring_coords[roff[1:] - 1] = ring_coords[roff[:-1]]
        # GEOS emits CCW: flip rows whose signed area is negative, with the
        # scalar _ring_signed_area arithmetic (translate to first vertex)
        ring_of = np.repeat(np.arange(len(pr)), ring_npts)
        fx = ring_coords[roff[:-1], 0][ring_of]
        fy = ring_coords[roff[:-1], 1][ring_of]
        tx = ring_coords[:, 0] - fx
        ty = ring_coords[:, 1] - fy
        nxt = np.arange(total, dtype=np.int64) + 1
        nxt[roff[1:] - 1] = roff[:-1]      # np.roll(-1) within each ring
        contrib = tx * ty[nxt] - tx[nxt] * ty
        area2 = np.add.reduceat(contrib, roff[:-1])
        # reduceat sums sequentially while the scalar _ring_signed_area
        # uses np.sum (pairwise) — different rounding can flip the SIGN of
        # a near-degenerate sliver. Decide borderline rows with the exact
        # scalar arithmetic; solidly-positive rows skip it.
        mag = np.add.reduceat(np.abs(contrib), roff[:-1])
        suspicious = area2 < 1e-9 * np.maximum(mag, 1e-300)
        if suspicious.any():
            from polars_st_spark.geo.algos import _ring_signed_area

            for j in np.nonzero(suspicious)[0]:
                seg = ring_coords[roff[j]:roff[j + 1]]
                if _ring_signed_area(seg) < 0:
                    ring_coords[roff[j]:roff[j + 1]] = seg[::-1]
    return kind, ring_npts, ring_coords, deg_pts


def _rows_type_byte(vals, null_mask) -> np.ndarray:
    """Low byte of each row's type word (0 at null rows), read off the
    Arrow buffers."""
    offs, data, _ = flat_views(as_binary_array(vals))
    out = np.zeros(len(null_mask), dtype=np.int64)
    live = ~null_mask
    out[live] = data[offs[:-1][live] + 1]
    return out


def _copy_rows(out, vals, rows) -> None:
    """``out[i]`` = the input bytes of row ``i`` for every ``i`` in
    ``rows`` (a verbatim passthrough); bytes are built only for those
    rows."""
    rows = np.asarray(rows, dtype=np.int64)
    if len(rows):
        for i, b in zip(rows, as_binary_array(vals).take(rows).to_pylist()):
            out[i] = b


def simplify_batch(vals, tol: float):
    """Whole-batch Douglas–Peucker for uniform-SRID 2-D polygonal or lineal
    batches: one CSR parse, one vectorized keep-mask over every ring/chain
    (:func:`dp_keep_mask`), one vectorized EWKB assembly — byte-identical
    to ``to_ewkb(algos.simplify(from_ewkb(b), tol))`` per row. Returns a
    list of bytes/None, or None when the batch shape needs the scalar path
    (mixed families, Z/M, mixed SRIDs, unclosed or empty rings)."""
    rp = parse_polygonal(vals)
    if rp is not None:
        if not rp.srid_uniform:
            return None
        npr = np.diff(rp.ring_start)
        if (npr == 0).any():
            return None
        rs_, re_ = rp.ring_start[:-1], rp.ring_start[1:] - 1
        if len(rs_) and not (
            (rp.coords[rs_, 0] == rp.coords[re_, 0])
            & (rp.coords[rs_, 1] == rp.coords[re_, 1])
        ).all():
            return None  # unclosed ring: scalar _closed() would append
        keep = dp_keep_mask(rp.coords, rp.ring_start, tol)
        R = len(rp.ring_row)
        ring_kept = (np.add.reduceat(keep.astype(np.int64), rp.ring_start[:-1])
                     if R else np.empty(0, np.int64))
        ring_ok = ring_kept >= 4
        ring_of_coord = np.repeat(np.arange(R, dtype=np.int64), npr)
        cmask = keep & ring_ok[ring_of_coord]
        return encode_polygonal_rows(
            rp.n, _rows_type_byte(vals, rp.null_mask), rp.part_row,
            rp.ring_part[ring_ok], ring_kept[ring_ok], rp.coords[cmask],
            rp.srid, rp.null_mask)
    rl = parse_lineal(vals)
    if rl is not None:
        if not rl.srid_uniform:
            return None
        keep = dp_keep_mask(rl.coords, rl.chain_start, tol)
        C = len(rl.chain_row)
        Nc = len(rl.coords)
        if C and Nc:
            # empty chains at the batch end would put len(coords) in the
            # reduceat starts — clamp, then zero them out
            ccounts = np.diff(rl.chain_start)
            chain_kept = np.add.reduceat(
                keep.astype(np.int64), np.minimum(rl.chain_start[:-1], Nc - 1))
            chain_kept = np.where(ccounts == 0, 0, chain_kept)
        else:
            chain_kept = np.zeros(C, dtype=np.int64)
        return encode_lineal_rows(
            rl.n, _rows_type_byte(vals, rl.null_mask), rl.chain_row,
            chain_kept, rl.coords[keep], rl.srid, rl.null_mask)
    return None


def convex_hull_batch(vals):
    """Whole-batch convex hull for uniform-SRID 2-D polygonal / lineal /
    multipoint batches (:func:`convex_hull_rows` level-synchronous
    monotone chain + vectorized EWKB assembly). Byte-identical to the
    scalar ``algos.convex_hull``. None → scalar fallback."""
    from polars_st_spark.geo.wkb import points_to_ewkb, to_ewkb
    from polars_st_spark.geo.types import empty_collection

    vals = as_binary_array(vals)
    p = parse_polygonal(vals)
    if p is None:
        p = parse_lineal(vals)
    if p is None:
        p = parse_multipoints(vals)
    if p is None:
        # mixed-family batch: split by header scan, hull each family's
        # sub-batch through this same path, merge by row index
        fam = split_families(vals)
        if fam is None:
            return None
        out: list = [None] * len(vals)
        for key in ("mpoint", "line", "poly"):
            idx = fam[key]
            if len(idx):
                sub = convex_hull_batch(vals.take(idx))
                if sub is None:
                    return None
                for j, i in enumerate(idx):
                    out[i] = sub[j]
        if len(fam["point"]):
            from polars_st_spark.geo.algos import convex_hull as _ch
            from polars_st_spark.geo.wkb import from_ewkb as _fe, to_ewkb as _te

            for i, b in zip(fam["point"], vals.take(fam["point"]).to_pylist()):
                out[i] = _te(_ch(_fe(b)))
        return out
    if not p.srid_uniform:
        return None
    srid = p.srid
    n = p.n
    kind, ring_npts, ring_coords, deg = convex_hull_rows(p.coords, p.row_start, n)
    out: list = [None] * n
    poly_rows = np.nonzero(kind == 3)[0]
    if len(poly_rows):
        pm = np.ones(n, dtype=bool)
        pm[poly_rows] = False
        enc = encode_polygonal_rows(
            n, np.full(n, 3, dtype=np.int64), poly_rows,
            np.arange(len(poly_rows), dtype=np.int64), ring_npts,
            ring_coords, srid, pm)
        for r in poly_rows:
            out[r] = enc[r]
    line_rows = np.nonzero(kind == 2)[0]
    if len(line_rows):
        lm = np.ones(n, dtype=bool)
        lm[line_rows] = False
        lc = np.empty((2 * len(line_rows), 2))
        lc[0::2, 0], lc[0::2, 1] = deg[line_rows, 0], deg[line_rows, 1]
        lc[1::2, 0], lc[1::2, 1] = deg[line_rows, 2], deg[line_rows, 3]
        enc = encode_lineal_rows(
            n, np.full(n, 2, dtype=np.int64), line_rows,
            np.full(len(line_rows), 2, dtype=np.int64), lc, srid, lm)
        for r in line_rows:
            out[r] = enc[r]
    pt_rows = np.nonzero(kind == 1)[0]
    if len(pt_rows):
        pb = points_to_ewkb(deg[pt_rows, 0], deg[pt_rows, 1], srid=srid)
        for j, r in enumerate(pt_rows):
            out[r] = pb[j]
    empty_rows = np.nonzero((kind == 0) & ~p.null_mask)[0]
    if len(empty_rows):
        eb = to_ewkb(empty_collection(srid))
        for r in empty_rows:
            out[r] = eb
    return out


# ----------------------------------------------------------------------
# Row-paired line × polygon clipping (r5): the CSR batch path behind
# st_intersection / st_difference for lineal×areal pairs — the scalar
# split-and-classify kernel (geo/setops._clip_chain_general) vectorized
# with the pair-sweep + locate machinery, bit-identical output bytes.
# ----------------------------------------------------------------------

def _line_segments_chainwise(rl: RaggedLines):
    """(ax, ay, bx, by, seg_chain, seg_row) — line segments in chain order
    with degenerate (p == q) segments removed, mirroring the scalar
    clipper's `continue`."""
    co = rl.coords
    ch_counts = np.diff(rl.chain_start)
    ch_of = np.repeat(np.arange(len(rl.chain_row), dtype=np.int64), ch_counts)
    if len(co) < 2:
        e = np.empty(0)
        return e, e, e, e, np.empty(0, np.int64), np.empty(0, np.int64)
    ok = ch_of[:-1] == ch_of[1:]
    sel = np.nonzero(ok)[0]
    ax, ay = co[sel, 0], co[sel, 1]
    bx, by = co[sel + 1, 0], co[sel + 1, 1]
    nondeg = ~((ax == bx) & (ay == by))
    sel = sel[nondeg]
    ax, ay, bx, by = ax[nondeg], ay[nondeg], bx[nondeg], by[nondeg]
    seg_chain = ch_of[sel]
    return ax, ay, bx, by, seg_chain, rl.chain_row[seg_chain]


def _poly_edges(rp: RaggedPolygons):
    """(cx, cy, ex, ey, edge_row) — every ring edge of every row, the
    scalar ``_areal_edges`` set: consecutive stored edges plus, for rings
    NOT bitwise-closed (``_closed`` would append the first vertex), the
    closing edge (last → first) in last position. Edge rows stay
    row-contiguous (consumers enumerate per-row blocks)."""
    pc = rp.coords
    r_counts = np.diff(rp.ring_start)
    R = len(rp.ring_row)
    if len(pc) < 2 or not R:
        e = np.empty(0)
        return e, e, e, e, np.empty(0, np.int64)
    s = rp.ring_start[:-1]
    e_ = rp.ring_start[1:]
    first = pc[s]
    last = pc[np.maximum(e_ - 1, s)]
    unclosed = (r_counts >= 2) & (
        (first[:, 0] != last[:, 0]) | (first[:, 1] != last[:, 1]))
    ne_ring = np.maximum(r_counts - 1, 0) + unclosed
    tot = int(ne_ring.sum())
    if not tot:
        z = np.empty(0)
        return z, z, z, z, np.empty(0, np.int64)
    r_of = np.repeat(np.arange(R, dtype=np.int64), ne_ring)
    off = np.cumsum(ne_ring) - ne_ring
    k = np.arange(tot, dtype=np.int64) - off[r_of]
    cons = k < r_counts[r_of] - 1
    i0 = np.where(cons, s[r_of] + k, e_[r_of] - 1)
    i1 = np.where(cons, s[r_of] + k + 1, s[r_of])
    return (pc[i0, 0], pc[i0, 1], pc[i1, 0], pc[i1, 1],
            rp.ring_row[r_of])


def _rings_as_axis_rect(rp: RaggedPolygons):
    """Per-ring vectorized mirror of the scalar axis-rect tests.

    Returns ``(rect2, rect_full)`` over all rings:
    ``rect2``     — the ``_is_axis_rect`` body: 4 effective points whose
                    12-dp-rounded x and y each take exactly two values;
    ``rect_full`` — additionally the ``_ring_as_rect`` corner bijection
                    (all four (x, y) corner combinations present), the
                    ``geometry_to_region`` convertibility test.
    """
    npts = np.diff(rp.ring_start)
    nr = len(npts)
    rect2 = np.zeros(nr, dtype=bool)
    rect_full = np.zeros(nr, dtype=bool)
    if nr == 0:
        return rect2, rect_full
    base = rp.ring_start[:-1]
    first = rp.coords[base]
    last = rp.coords[np.maximum(rp.ring_start[1:] - 1, base)]
    closed = (npts >= 2) & (first[:, 0] == last[:, 0]) & (first[:, 1] == last[:, 1])
    eff = np.where(closed, npts - 1, npts)
    ci = np.nonzero(eff == 4)[0]
    if not len(ci):
        return rect2, rect_full
    idx = base[ci][:, None] + np.arange(4, dtype=np.int64)[None, :]
    rx = np.round(rp.coords[idx, 0], 12)
    ry = np.round(rp.coords[idx, 1], 12)
    xmin, xmax = rx.min(axis=1), rx.max(axis=1)
    ymin, ymax = ry.min(axis=1), ry.max(axis=1)
    two_x = (xmin < xmax) & ((rx == xmin[:, None]) | (rx == xmax[:, None])).all(axis=1)
    two_y = (ymin < ymax) & ((ry == ymin[:, None]) | (ry == ymax[:, None])).all(axis=1)
    r2 = two_x & two_y
    rect2[ci] = r2
    is_x0 = rx == xmin[:, None]
    is_y0 = ry == ymin[:, None]
    bij = ((is_x0 & is_y0).any(axis=1) & (is_x0 & ~is_y0).any(axis=1)
           & (~is_x0 & is_y0).any(axis=1) & (~is_x0 & ~is_y0).any(axis=1))
    rect_full[ci] = r2 & bij
    return rect2, rect_full


def pairs_clip_line_poly(rl: RaggedLines, rp: RaggedPolygons, mode: str,
                         max_pairs: int = 64_000_000, chunk: int = 1 << 20):
    """Split params + chunk classification for row-paired line×polygon
    clips. Returns ``(chain_row, chain_npts, coords, touch_risk)`` where
    the first three describe the kept maximal sub-chains per row (chains
    in row order) and ``touch_risk`` flags rows that may carry an
    isolated boundary touch point (mode 'in' only — those rows need the
    scalar mixed-output path). None when the pair product exceeds
    ``max_pairs``.

    Bit parity with the scalar ``_clip_chain_general``: the same
    `_seg_intersect_kind` orientation/tolerance arithmetic decides which
    contacts split (proper crossings by the den/t formula, endpoint
    touches by `_on_segment` gated on kind != 0 and not-proper), params
    dedup exact-equal, sub-chunks shorter than 1e-12 in param space skip
    WITHOUT closing the open chain, midpoints classify through
    `locate_points_multi` (same `_EPS` arithmetic as point_in_polygon),
    and chunk merging uses np.allclose's |a−b| <= atol + rtol·|b| rule."""
    n = rl.n
    ax, ay, bx, by, seg_chain, seg_row = _line_segments_chainwise(rl)
    cx_, cy_, ex_, ey_, edge_row = _poly_edges(rp)
    S = len(ax)
    out_empty = (np.empty(0, np.int64), np.empty(0, np.int64),
                 np.empty((0, 2)), np.zeros(n, dtype=bool))
    if not S:
        return out_empty
    ne = np.bincount(edge_row, minlength=n)
    offsE = np.concatenate([[0], np.cumsum(ne)])
    sizes = ne[seg_row]
    total = int(sizes.sum())
    if total > max_pairs:
        return None
    par_seg = [np.arange(S, dtype=np.int64), np.arange(S, dtype=np.int64)]
    par_t = [np.zeros(S), np.ones(S)]
    if total:
        blk = np.cumsum(sizes) - sizes
        shift = blk - offsE[seg_row]
        is_all = np.repeat(np.arange(S, dtype=np.int64), sizes)
        ie_all = np.arange(total, dtype=np.int64)
        ie_all -= np.repeat(shift, sizes)
        for lo in range(0, total, chunk):
            ia = is_all[lo:lo + chunk]
            ie = ie_all[lo:lo + chunk]
            AX, AY, BX, BY = ax[ia], ay[ia], bx[ia], by[ia]
            CX, CY, EX, EY = cx_[ie], cy_[ie], ex_[ie], ey_[ie]
            # scalar _seg_intersect_kind orientations (exact operand order)
            d1 = (EX - CX) * (AY - CY) - (EY - CY) * (AX - CX)
            d2 = (EX - CX) * (BY - CY) - (EY - CY) * (BX - CX)
            d3 = (BX - AX) * (CY - AY) - (BY - AY) * (CX - AX)
            d4 = (BX - AX) * (EY - AY) - (BY - AY) * (EX - AX)
            scA = np.maximum(np.maximum(np.abs(BX - AX), np.abs(BY - AY)), 1.0)
            scB = np.maximum(np.maximum(np.abs(EX - CX), np.abs(EY - CY)), 1.0)
            tol = _EPS * scB * scA
            proper = (
                ((d1 > tol) & (d2 < -tol)) | ((d1 < -tol) & (d2 > tol))
            ) & (((d3 > tol) & (d4 < -tol)) | ((d3 < -tol) & (d4 > tol)))
            pm = np.nonzero(proper)[0]
            if len(pm):
                den = ((AX[pm] - BX[pm]) * (CY[pm] - EY[pm])
                       - (AY[pm] - BY[pm]) * (CX[pm] - EX[pm]))
                okd = den != 0
                t = ((AX[pm] - CX[pm]) * (CY[pm] - EY[pm])
                     - (AY[pm] - CY[pm]) * (CX[pm] - EX[pm]))
                t = np.where(okd, t / np.where(okd, den, 1.0), 0.0)
                par_seg.append(ia[pm[okd]])
                par_t.append(np.minimum(np.maximum(t[okd], 0.0), 1.0))
            # non-proper contact (kind 1/3): endpoint-on-AB params, gated
            # on the pair being nonzero by the scalar's kind logic
            near1 = np.abs(d1) <= tol
            near2 = np.abs(d2) <= tol
            near3 = np.abs(d3) <= tol
            near4 = np.abs(d4) <= tol
            bnd = (near1 | near2 | near3 | near4) & ~proper
            bsel = np.nonzero(bnd)[0]
            if not len(bsel):
                continue
            sA = (AX[bsel], AY[bsel], BX[bsel], BY[bsel])
            sB = (CX[bsel], CY[bsel], EX[bsel], EY[bsel])
            n1, n2, n3, n4 = near1[bsel], near2[bsel], near3[bsel], near4[bsel]
            allcol = n1 & n2 & n3 & n4
            scAb = scA[bsel]

            def on_ab(px_, py_):
                cr = ((sA[2] - sA[0]) * (py_ - sA[1])
                      - (sA[3] - sA[1]) * (px_ - sA[0]))
                return (
                    (np.abs(cr) <= _EPS * scAb * scAb)
                    & (px_ >= np.minimum(sA[0], sA[2]) - _EPS)
                    & (px_ <= np.maximum(sA[0], sA[2]) + _EPS)
                    & (py_ >= np.minimum(sA[1], sA[3]) - _EPS)
                    & (py_ <= np.maximum(sA[1], sA[3]) + _EPS)
                )

            def on_ce(px_, py_):
                cr = ((sB[2] - sB[0]) * (py_ - sB[1])
                      - (sB[3] - sB[1]) * (px_ - sB[0]))
                scBb = scB[bsel]
                return (
                    (np.abs(cr) <= _EPS * scBb * scBb)
                    & (px_ >= np.minimum(sB[0], sB[2]) - _EPS)
                    & (px_ <= np.maximum(sB[0], sB[2]) + _EPS)
                    & (py_ >= np.minimum(sB[1], sB[3]) - _EPS)
                    & (py_ <= np.maximum(sB[1], sB[3]) + _EPS)
                )

            # kind != 0 for non-proper pairs: collinear with overlap, or a
            # touch (any near endpoint genuinely on the other segment)
            axis_x = np.abs(sA[2] - sA[0]) >= np.abs(sA[3] - sA[1])
            a1 = np.where(axis_x, sA[0], sA[1])
            b1 = np.where(axis_x, sA[2], sA[3])
            c1 = np.where(axis_x, sB[0], sB[1])
            e1 = np.where(axis_x, sB[2], sB[3])
            ov_lo = np.maximum(np.minimum(a1, b1), np.minimum(c1, e1))
            ov_hi = np.minimum(np.maximum(a1, b1), np.maximum(c1, e1))
            col_hit = ov_hi >= ov_lo - _EPS
            touch = (
                (n1 & on_ce(sA[0], sA[1])) | (n2 & on_ce(sA[2], sA[3]))
                | (n3 & on_ab(sB[0], sB[1])) | (n4 & on_ab(sB[2], sB[3]))
            )
            nz = np.where(allcol, col_hit, touch)
            # scalar: for cand in (C, E): if _on_segment(cand, A, B) and
            # the dominant-axis extent is nonzero -> param
            dx = sA[2] - sA[0]
            dy = sA[3] - sA[1]
            use_x = np.abs(dx) >= np.abs(dy)
            dax = np.where(use_x, dx, dy)
            for px_, py_ in ((sB[0], sB[1]), (sB[2], sB[3])):
                hit = nz & on_ab(px_, py_) & (dax != 0)
                if hit.any():
                    num = np.where(use_x, px_ - sA[0], py_ - sA[1])
                    tv = num[hit] / dax[hit]
                    par_seg.append(ia[bsel[hit]])
                    par_t.append(np.minimum(np.maximum(tv, 0.0), 1.0))
    pseg = np.concatenate(par_seg)
    pt = np.concatenate(par_t)
    order = np.lexsort((pt, pseg))
    pseg, pt = pseg[order], pt[order]
    # exact-equal dedup (the scalar's float set)
    first = np.ones(len(pseg), dtype=bool)
    first[1:] = (pseg[1:] != pseg[:-1]) | (pt[1:] != pt[:-1])
    pseg, pt = pseg[first], pt[first]
    # chunks between consecutive params of the same segment
    same = pseg[1:] == pseg[:-1]
    t0 = pt[:-1][same]
    t1 = pt[1:][same]
    cseg = pseg[1:][same]
    valid = t1 - t0 > 1e-12
    t0, t1, cseg = t0[valid], t1[valid], cseg[valid]
    mid_t = (t0 + t1) / 2.0
    mx = ax[cseg] + mid_t * (bx[cseg] - ax[cseg])
    my = ay[cseg] + mid_t * (by[cseg] - ay[cseg])
    loc = locate_points_multi(rp, mx, my, seg_row[cseg])
    keepm = (loc >= 1) if mode == "in" else (loc == 0)
    touch_risk = np.zeros(n, dtype=bool)
    if mode == "in":
        # boundary params whose BOTH flanking chunks are dropped can be an
        # isolated touch point — classify them and flag their rows for the
        # scalar mixed-output path (conservative: a point covered by a
        # remote piece of a self-crossing line over-flags, never under)
        bx_pts = ax[pseg] + pt * (bx[pseg] - ax[pseg])
        by_pts = ay[pseg] + pt * (by[pseg] - ay[pseg])
        bloc = locate_points_multi(rp, bx_pts, by_pts, seg_row[pseg])
        onb = bloc >= 1
        if onb.any():
            # map params -> flanking chunks: chunk i spans params (j, j+1)
            # of the same segment; a param's flanks are the valid chunks
            # ending/starting at it
            cov = np.zeros(len(pseg), dtype=bool)
            vidx = np.nonzero(same)[0][valid]     # param index of chunk start
            kept_idx = vidx[keepm]
            cov[kept_idx] = True                  # start param covered
            cov[kept_idx + 1] = True              # end param covered
            risky = onb & ~cov
            if risky.any():
                touch_risk[seg_row[pseg[risky]]] = True
    # assemble kept chunks into maximal chains (scalar merge discipline)
    kidx = np.nonzero(keepm)[0]
    if not len(kidx):
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty((0, 2)), touch_risk)
    ks, kt0, kt1 = cseg[kidx], t0[kidx], t1[kidx]
    a_x = ax[ks] + kt0 * (bx[ks] - ax[ks])
    a_y = ay[ks] + kt0 * (by[ks] - ay[ks])
    b_x = ax[ks] + kt1 * (bx[ks] - ax[ks])
    b_y = ay[ks] + kt1 * (by[ks] - ay[ks])
    kchain = seg_chain[ks]
    # merged with previous kept chunk iff: consecutive valid chunks with
    # nothing dropped between (adjacent in the kept array AND no unkept
    # valid chunk between them), same chain, and endpoints allclose
    prev_kidx = kidx[:-1]
    adj = kidx[1:] == prev_kidx + 1
    # valid-chunk adjacency must also hold in param space: consecutive
    # valid chunks of the same segment always are; crossing a segment
    # boundary is fine when the chain continues (coords match exactly)
    samechain = kchain[1:] == kchain[:-1]
    close = (
        (np.abs(b_x[:-1] - a_x[1:]) <= 1e-8 + 1e-5 * np.abs(a_x[1:]))
        & (np.abs(b_y[:-1] - a_y[1:]) <= 1e-8 + 1e-5 * np.abs(a_y[1:]))
    )
    merged = np.concatenate([[False], adj & samechain & close])
    starts = np.nonzero(~merged)[0]
    run_len = np.diff(np.concatenate([starts, [len(kidx)]]))
    chain_row_out = seg_row[ks[starts]]
    chain_npts = run_len + 1
    total_pts = int(chain_npts.sum())
    coords = np.empty((total_pts, 2))
    out_off = np.concatenate([[0], np.cumsum(chain_npts)])
    # first point of each run
    coords[out_off[:-1], 0] = a_x[starts]
    coords[out_off[:-1], 1] = a_y[starts]
    # each chunk contributes its end point at position (within-run idx + 1)
    run_of = np.repeat(np.arange(len(starts), dtype=np.int64), run_len)
    within = np.arange(len(kidx), dtype=np.int64) - starts[run_of]
    pos = out_off[:-1][run_of] + within + 1
    coords[pos, 0] = b_x
    coords[pos, 1] = b_y
    return chain_row_out, chain_npts, coords, touch_risk


def clip_line_poly_batch(vals_l, vals_p, mode: str,
                         use_poly_srid: bool = False):
    """Whole-batch line×polygon intersection ('in') / difference ('out').
    Returns ``(out, need_scalar)`` — ``out`` a list of EWKB/None per row
    with ``None`` at positions flagged in ``need_scalar`` (rows the
    SCALAR dispatch routes through other code paths, kept scalar for bit
    parity: MultiPolygon right sides, axis-rect ('in') / rectilinear
    ('out') polygons, isolated-touch-point rows) — or None when the batch
    shape can't take the CSR path at all.

    ``use_poly_srid`` serves the SWAPPED intersection order (polygon
    column ∩ line column): the scalar propagates the FIRST argument's
    SRID, so the output takes the polygon side's."""
    rl = parse_lineal(vals_l)
    if rl is None or not rl.srid_uniform:
        return None
    rp = parse_polygonal(vals_p)
    if rp is None:
        return None
    if use_poly_srid and not rp.srid_uniform:
        return None
    n = rl.n
    need_scalar = np.zeros(n, dtype=bool)
    ptype = _rows_type_byte(vals_p, rp.null_mask)
    need_scalar |= ptype == 6
    # mirror the SCALAR dispatch's special-path tests exactly (r5: the old
    # all-axis-edge census flagged every rectilinear polygon — e.g. a 6-edge
    # L-shape — back to scalar for 'out', though the scalar region algebra
    # only fires when EVERY ring is a 4-point axis RECTANGLE)
    rect2, rect_full = _rings_as_axis_rect(rp)
    nrings = np.bincount(rp.ring_row, minlength=n)
    n_rect_full = np.bincount(rp.ring_row[rect_full], minlength=n)
    single_rect2 = np.zeros(n, dtype=bool)
    si = np.nonzero(nrings == 1)[0]
    if len(si):
        first_ring = np.searchsorted(rp.ring_row, si)
        single_rect2[si] = rect2[first_ring]
    single_rect2 &= ptype == 3  # _is_axis_rect requires a plain Polygon
    if mode == "out":
        # scalar difference: geometry_to_region (all rings _ring_as_rect)
        # else _axis_rect (single-ring 12-dp axis rect) else general clip
        need_scalar |= (nrings > 0) & (n_rect_full == nrings)
        need_scalar |= single_rect2
    else:
        # scalar intersection special-cases only _axis_rect polygons
        need_scalar |= single_rect2
    res = pairs_clip_line_poly(rl, rp, mode)
    if res is None:
        return None
    chain_row, chain_npts, coords, touch_risk = res
    if mode == "in":
        need_scalar |= touch_risk
    nulls = rl.null_mask | rp.null_mask
    inter = pairs_intersect(rl, rp)
    if inter is None:
        return None
    # INTERSECTING MultiLineString left rows keep the scalar path: its
    # per-chain recursion groups pieces per chain, so chains with
    # differing piece counts produce GEOMETRYCOLLECTION(MULTILINESTRING,
    # LINESTRING, ...) — a structure the flat kernel doesn't reproduce.
    # Disjoint multilines are fine (empty / verbatim copy below).
    ltype = _rows_type_byte(vals_l, rl.null_mask)
    need_scalar |= (ltype == 5) & inter
    passthrough = np.zeros(n, dtype=bool)
    if mode == "out":
        # disjoint rows: the scalar returns a.copy() verbatim (original
        # vertices, original Multi/empty type) — pass the input bytes
        passthrough = ~inter & ~nulls & ~need_scalar
    emit = ~nulls & ~need_scalar & ~passthrough
    csel = emit[chain_row]
    chain_row2 = chain_row[csel]
    chain_npts2 = chain_npts[csel]
    cof = np.repeat(np.arange(len(chain_row), dtype=np.int64), chain_npts)
    coords2 = coords[emit[chain_row][cof]]
    nchains = np.bincount(chain_row2, minlength=n)
    row_type = np.where(nchains > 1, 5, 2)
    enc_null = ~emit
    out = encode_lineal_rows(
        n, row_type, chain_row2, chain_npts2, coords2,
        rp.srid if use_poly_srid else rl.srid, enc_null)
    _copy_rows(out, vals_l, np.nonzero(passthrough)[0])
    for i in np.nonzero(nulls & ~need_scalar)[0]:
        out[i] = None
    return out, need_scalar


def reverse_units_batch(vals):
    """Whole-batch st_reverse for 2-D polygonal/lineal batches: the new
    coordinate array is a pure per-ring/per-chain index reversal of the
    old one, so the result byte-splices over the original EWKB (headers
    and counts untouched) — bit-identical to the scalar. None → fallback."""
    p = parse_polygonal(vals)
    us = None
    if p is not None:
        us = p.ring_start
    else:
        p = parse_lineal(vals)
        if p is not None:
            us = p.chain_start
    if p is None or not p.srid_uniform:
        return None
    N = len(p.coords)
    if not N:
        return splice_coords(vals, p, p.coords)
    counts = np.diff(us)
    u_of = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    within = np.arange(N, dtype=np.int64) - us[:-1][u_of]
    rev = us[:-1][u_of] + counts[u_of] - 1 - within
    return splice_coords(vals, p, p.coords[rev])


def remove_repeated_batch(vals, tol: float):
    """Whole-batch st_remove_repeated_points: one vectorized consecutive-
    distance keep-mask per ring/chain + masked EWKB re-assembly —
    bit-identical to the scalar ``algos.remove_repeated_points``. Rows
    where any unit would fall under the minimum vertex count (the
    scalar's take-first-min_n rule) return None in the list and are
    flagged via the second element; whole-batch None → full fallback."""
    rp = parse_polygonal(vals)
    if rp is not None:
        if not rp.srid_uniform:
            return None
        us, min_n, row_of_unit = rp.ring_start, 4, rp.ring_row
    else:
        rl = parse_lineal(vals)
        if rl is None or not rl.srid_uniform:
            return None
        rp = rl
        us, min_n, row_of_unit = rl.chain_start, 2, rl.chain_row
    co = rp.coords
    N = len(co)
    n = rp.n
    need_scalar = np.zeros(n, dtype=bool)
    counts = np.diff(us)
    if N:
        d = np.sqrt(((np.diff(co[:, :2], axis=0)) ** 2).sum(axis=1))
        keep = np.ones(N, dtype=bool)
        keep[1:] = d > tol
        # the first vertex of every unit is always kept and the scalar's
        # consecutive-distance never spans units
        keep[us[:-1][counts > 0]] = True
    else:
        keep = np.zeros(0, dtype=bool)
    if len(counts) and N:
        kept_per_unit = np.add.reduceat(
            keep.astype(np.int64), np.minimum(us[:-1], N - 1))
        kept_per_unit = np.where(counts == 0, 0, kept_per_unit)
    else:
        kept_per_unit = np.zeros(len(counts), dtype=np.int64)
    # scalar rule: units with >= 2 input points collapsing under min_n
    # take the FIRST min_n original vertices — per-row scalar fallback
    bad = (counts >= 2) & (kept_per_unit < np.minimum(min_n, counts))
    if bad.any():
        need_scalar[row_of_unit[bad]] = True
    # drop the units (and their kept coords) of rows going scalar — a
    # nulled row slot must carry NO units or the encoder's offset math
    # would write them at position 0 over other rows
    emit_unit = ~need_scalar[row_of_unit]
    u_of_coord = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    keep2 = keep & emit_unit[u_of_coord]
    enc_null = rp.null_mask | need_scalar
    if min_n == 4:
        out = encode_polygonal_rows(
            n, _rows_type_byte(vals, rp.null_mask),
            rp.part_row[~need_scalar[rp.part_row]],
            # ring_part indexes the FULL part table; re-map to the kept one
            np.searchsorted(np.nonzero(~need_scalar[rp.part_row])[0],
                            rp.ring_part[emit_unit]),
            kept_per_unit[emit_unit], co[keep2], rp.srid, enc_null)
    else:
        out = encode_lineal_rows(
            n, _rows_type_byte(vals, rp.null_mask), rp.chain_row[emit_unit],
            kept_per_unit[emit_unit], co[keep2], rp.srid, enc_null)
    return out, need_scalar


def segmentize_batch(vals, max_len: float):
    """Whole-batch st_segmentize for uniform-SRID 2-D polygonal/lineal
    batches: per-segment subdivision counts ``max(1, ceil(len/max_len))``,
    interpolation params reproducing np.linspace's ``i·(1/n)`` values with
    the exact 1.0 endpoint, and the batched EWKB writers — bit-identical
    to the scalar ``algos.segmentize``. None → fallback (mixed families,
    Z/M, mixed SRIDs, unclosed rings — the scalar closes them first)."""
    rp = parse_polygonal(vals)
    if rp is not None:
        if not rp.srid_uniform:
            return None
        npr = np.diff(rp.ring_start)
        if (npr == 0).any():
            return None
        rs_, re_ = rp.ring_start[:-1], rp.ring_start[1:] - 1
        if len(rs_) and not (
            (rp.coords[rs_, 0] == rp.coords[re_, 0])
            & (rp.coords[rs_, 1] == rp.coords[re_, 1])
        ).all():
            return None
        us, polyg = rp.ring_start, True
        p = rp
    else:
        rl = parse_lineal(vals)
        if rl is None or not rl.srid_uniform:
            return None
        us, polyg = rl.chain_start, False
        p = rl
    co = p.coords
    N = len(co)
    counts = np.diff(us)
    U = len(counts)
    if not N or not U:
        new_counts = np.zeros(U, dtype=np.int64)
        out_co = np.empty((0, 2))
    else:
        u_of = np.repeat(np.arange(U, dtype=np.int64), counts)
        seg_ok = (u_of[:-1] == u_of[1:]) if N > 1 else np.zeros(0, bool)
        ssel = np.nonzero(seg_ok)[0]
        ax, ay = co[ssel, 0], co[ssel, 1]
        bx, by = co[ssel + 1, 0], co[ssel + 1, 1]
        # scalar: n = max(1, ceil(hypot / max_len)) per segment
        seg_len = np.hypot(bx - ax, by - ay)
        nseg = np.maximum(1, np.ceil(seg_len / max_len)).astype(np.int64)
        # output layout: per unit, 1 leading vertex + sum(nseg) points
        seg_unit = u_of[ssel]
        add_per_unit = np.zeros(U, dtype=np.int64)
        if len(ssel):
            np.add.at(add_per_unit, seg_unit, nseg)
        new_counts = np.where(counts > 0, np.minimum(counts, 1), 0) + add_per_unit
        # a 1-point unit keeps its single vertex; empty stays empty
        new_counts = np.where(counts == 1, 1, new_counts)
        total_new = int(new_counts.sum())
        out_co = np.empty((total_new, 2))
        new_off = np.concatenate([[0], np.cumsum(new_counts)])
        # leading vertex of every nonempty unit
        lead = np.nonzero(counts > 0)[0]
        out_co[new_off[:-1][lead], 0] = co[us[:-1][lead], 0]
        out_co[new_off[:-1][lead], 1] = co[us[:-1][lead], 1]
        if len(ssel):
            # interpolated points per segment: t_i = i*(1/n) for i=1..n,
            # last forced to the exact endpoint like np.linspace
            T = int(nseg.sum())
            sidx = np.repeat(np.arange(len(ssel), dtype=np.int64), nseg)
            ramp = np.arange(T, dtype=np.int64) - np.repeat(
                np.cumsum(nseg) - nseg, nseg) + 1
            inv = 1.0 / nseg.astype(np.float64)
            t = ramp.astype(np.float64) * inv[sidx]
            # np.linspace pins only the PARAM endpoint to exactly 1.0; the
            # scalar then still computes a + 1.0*(b-a) — reproduce that,
            # don't substitute b itself
            t[ramp == nseg[sidx]] = 1.0
            px = ax[sidx] + t * (bx[sidx] - ax[sidx])
            py = ay[sidx] + t * (by[sidx] - ay[sidx])
            # destination: unit offset + 1 (lead) + cumulative points of
            # prior segments in the unit + ramp-1
            segs_before = np.cumsum(nseg) - nseg
            unit_first_seg = np.searchsorted(seg_unit, np.arange(U), side="left")
            seg_base = segs_before - segs_before[unit_first_seg[seg_unit]]
            dst = new_off[:-1][seg_unit[sidx]] + 1 + seg_base[sidx] + ramp - 1
            out_co[dst, 0] = px
            out_co[dst, 1] = py
    if polyg:
        return encode_polygonal_rows(
            p.n, _rows_type_byte(vals, p.null_mask), p.part_row,
            p.ring_part, new_counts, out_co, p.srid, p.null_mask)
    return encode_lineal_rows(
        p.n, _rows_type_byte(vals, p.null_mask), p.chain_row,
        new_counts, out_co, p.srid, p.null_mask)


def boundary_polygonal_batch(vals):
    """Whole-batch st_boundary for 2-D polygonal batches: every ring
    becomes a LineString chain (1 ring → LineString, else
    MultiLineString), assembled by the batched lineal writer —
    bit-identical to the scalar. None → fallback (incl. unclosed rings,
    which the scalar closes first)."""
    rp = parse_polygonal(vals)
    if rp is None or not rp.srid_uniform:
        return None
    npr = np.diff(rp.ring_start)
    if (npr == 0).any():
        return None
    rs_, re_ = rp.ring_start[:-1], rp.ring_start[1:] - 1
    if len(rs_) and not (
        (rp.coords[rs_, 0] == rp.coords[re_, 0])
        & (rp.coords[rs_, 1] == rp.coords[re_, 1])
    ).all():
        return None
    nrings = np.bincount(rp.ring_row, minlength=rp.n)
    # exactly one ring -> bare LineString; zero (POLYGON EMPTY) or many ->
    # MultiLineString, matching the scalar's len(rings) == 1 special case
    row_type = np.where(nrings == 1, 2, 5)
    return encode_lineal_rows(
        rp.n, row_type, rp.ring_row, npr, rp.coords, rp.srid, rp.null_mask)


def envelope_batch(vals):
    """Whole-batch st_envelope: per-row bounds classify to empty-Point /
    Point / degenerate-diagonal LineString / axis-rect Polygon, each
    group encoded by its batched writer — bit-identical to the scalar
    ``algos.envelope``. Mixed families route through the header split."""
    from polars_st_spark.geo.wkb import points_to_ewkb, to_ewkb

    vals = as_binary_array(vals)
    p = parse_polygonal(vals)
    if p is None:
        p = parse_lineal(vals)
    if p is None:
        p = parse_multipoints(vals)
    if p is None:
        fam = split_families(vals)
        if fam is None:
            return None
        out: list = [None] * len(vals)
        for key in ("mpoint", "line", "poly"):
            idx = fam[key]
            if len(idx):
                sub = envelope_batch(vals.take(idx))
                if sub is None:
                    return None
                for j, i in enumerate(idx):
                    out[i] = sub[j]
        if len(fam["point"]):
            from polars_st_spark.geo.algos import envelope as _env
            from polars_st_spark.geo.wkb import from_ewkb as _fe

            for i, b in zip(fam["point"], vals.take(fam["point"]).to_pylist()):
                out[i] = to_ewkb(_env(_fe(b)))
        return out
    if not p.srid_uniform:
        return None
    n = p.n
    srid = p.srid
    b = bounds_cached(p)
    with np.errstate(invalid="ignore"):
        is_nan = np.isnan(b[:, 0])
        is_pt = (b[:, 0] == b[:, 2]) & (b[:, 1] == b[:, 3]) & ~is_nan
        is_ln = ((b[:, 0] == b[:, 2]) | (b[:, 1] == b[:, 3])) & ~is_pt & ~is_nan
    is_poly = ~is_nan & ~is_pt & ~is_ln & ~p.null_mask
    is_nan &= ~p.null_mask
    is_pt &= ~p.null_mask
    is_ln &= ~p.null_mask
    out = [None] * n
    ptr = np.nonzero(is_pt | is_nan)[0]
    if len(ptr):
        # empty rows: the scalar emits POINT (NaN NaN) — same encoder path
        pb = points_to_ewkb(b[ptr, 0], b[ptr, 1], srid=srid)
        for j, i in enumerate(ptr):
            out[i] = pb[j]
    lnr = np.nonzero(is_ln)[0]
    if len(lnr):
        lc = np.empty((2 * len(lnr), 2))
        lc[0::2, 0], lc[0::2, 1] = b[lnr, 0], b[lnr, 1]
        lc[1::2, 0], lc[1::2, 1] = b[lnr, 2], b[lnr, 3]
        lm = np.ones(n, dtype=bool)
        lm[lnr] = False
        enc = encode_lineal_rows(
            n, np.full(n, 2, dtype=np.int64), lnr,
            np.full(len(lnr), 2, dtype=np.int64), lc, srid, lm)
        for i in lnr:
            out[i] = enc[i]
    pr = np.nonzero(is_poly)[0]
    if len(pr):
        rc = np.empty((5 * len(pr), 2))
        x0, y0, x1, y1 = b[pr, 0], b[pr, 1], b[pr, 2], b[pr, 3]
        rc[0::5, 0], rc[0::5, 1] = x0, y0
        rc[1::5, 0], rc[1::5, 1] = x1, y0
        rc[2::5, 0], rc[2::5, 1] = x1, y1
        rc[3::5, 0], rc[3::5, 1] = x0, y1
        rc[4::5, 0], rc[4::5, 1] = x0, y0
        pm = np.ones(n, dtype=bool)
        pm[pr] = False
        enc = encode_polygonal_rows(
            n, np.full(n, 3, dtype=np.int64), pr,
            np.arange(len(pr), dtype=np.int64),
            np.full(len(pr), 5, dtype=np.int64), rc, srid, pm)
        for i in pr:
            out[i] = enc[i]
    return out


def rect_pair_intersection_batch(vals_a, vals_b):
    """Whole-batch st_intersection for uniform axis-rect×axis-rect pairs
    (bbox clipping — the tile/extent workload): the min/max closed form
    classifies each row to rect / degenerate-line / point / empty and
    writes each group with its batched encoder — bit-identical to the
    scalar dispatch (the region branch emits the same canonical rect ring;
    touching pairs fall through to the same line/point outputs; disjoint
    pairs give POLYGON EMPTY regardless of which early-exit fires).
    None → fallback."""
    from polars_st_spark.geo.arrowwkb import uniform_batch_pa
    from polars_st_spark.geo.wkb import header_info, points_to_ewkb

    fa = uniform_batch_pa(vals_a)
    fb = uniform_batch_pa(vals_b)
    if (fa is None or fb is None or fa[0] != "ring" or fb[0] != "ring"
            or not fa[2] or not fb[2]
            or fa[1].shape[1] != 5 or fb[1].shape[1] != 5):
        return None
    ca, cb = fa[1], fb[1]
    srid = header_info(as_binary_array(vals_a)[0].as_py())[3]
    ax0, ay0 = ca[:, 0, 0], ca[:, 0, 1]
    ax1, ay1 = ca[:, 2, 0], ca[:, 2, 1]
    bx0, by0 = cb[:, 0, 0], cb[:, 0, 1]
    bx1, by1 = cb[:, 2, 0], cb[:, 2, 1]
    ix0 = np.maximum(ax0, bx0)
    iy0 = np.maximum(ay0, by0)
    ix1 = np.minimum(ax1, bx1)
    iy1 = np.minimum(ay1, by1)
    n = len(ca)
    empty = (ix0 > ix1) | (iy0 > iy1)
    ispt = ~empty & (ix0 == ix1) & (iy0 == iy1)
    isln = ~empty & ~ispt & ((ix0 == ix1) | (iy0 == iy1))
    isrc = ~empty & ~ispt & ~isln
    # the scalar's region branch quantizes coordinates to 12 decimals
    # (geo/rectregion.py); round commutes with max/min (monotone), so the
    # rounded clip equals clipping the rounded bounds. Rows whose ROUNDED
    # overlap degenerates fall through to the raw-axis branch exactly like
    # the scalar (region empty -> raw _mk_rect / line / point).
    if isrc.any():
        ri = np.nonzero(isrc)[0]

        def _r12(arr):
            return np.array([round(float(v), 12) for v in arr])

        rx0 = np.maximum(_r12(ax0[ri]), _r12(bx0[ri]))
        ry0 = np.maximum(_r12(ay0[ri]), _r12(by0[ri]))
        rx1 = np.minimum(_r12(ax1[ri]), _r12(bx1[ri]))
        ry1 = np.minimum(_r12(ay1[ri]), _r12(by1[ri]))
        rounded_ok = (rx1 > rx0) & (ry1 > ry0)
        ix0[ri[rounded_ok]] = rx0[rounded_ok]
        iy0[ri[rounded_ok]] = ry0[rounded_ok]
        ix1[ri[rounded_ok]] = rx1[rounded_ok]
        iy1[ri[rounded_ok]] = ry1[rounded_ok]
        # rounded-degenerate rows keep the raw bounds (_mk_rect fallthrough)
    out: list = [None] * n
    er = np.nonzero(empty)[0]
    if len(er):
        em = np.ones(n, dtype=bool)
        em[er] = False
        enc = encode_polygonal_rows(
            n, np.full(n, 3, dtype=np.int64), np.empty(0, np.int64),
            np.empty(0, np.int64), np.empty(0, np.int64),
            np.empty((0, 2)), srid, em)
        for i in er:
            out[i] = enc[i]
    pr = np.nonzero(ispt)[0]
    if len(pr):
        pb = points_to_ewkb(ix0[pr], iy0[pr], srid=srid)
        for j, i in enumerate(pr):
            out[i] = pb[j]
    lr = np.nonzero(isln)[0]
    if len(lr):
        lc = np.empty((2 * len(lr), 2))
        lc[0::2, 0], lc[0::2, 1] = ix0[lr], iy0[lr]
        lc[1::2, 0], lc[1::2, 1] = ix1[lr], iy1[lr]
        lm = np.ones(n, dtype=bool)
        lm[lr] = False
        enc = encode_lineal_rows(
            n, np.full(n, 2, dtype=np.int64), lr,
            np.full(len(lr), 2, dtype=np.int64), lc, srid, lm)
        for i in lr:
            out[i] = enc[i]
    rr = np.nonzero(isrc)[0]
    if len(rr):
        rc = np.empty((5 * len(rr), 2))
        x0, y0, x1, y1 = ix0[rr], iy0[rr], ix1[rr], iy1[rr]
        rc[0::5, 0], rc[0::5, 1] = x0, y0
        rc[1::5, 0], rc[1::5, 1] = x1, y0
        rc[2::5, 0], rc[2::5, 1] = x1, y1
        rc[3::5, 0], rc[3::5, 1] = x0, y1
        rc[4::5, 0], rc[4::5, 1] = x0, y0
        rm = np.ones(n, dtype=bool)
        rm[rr] = False
        enc = encode_polygonal_rows(
            n, np.full(n, 3, dtype=np.int64), rr,
            np.arange(len(rr), dtype=np.int64),
            np.full(len(rr), 5, dtype=np.int64), rc, srid, rm)
        for i in rr:
            out[i] = enc[i]
    return out
