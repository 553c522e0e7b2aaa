"""Row-batched line-buffer lane (r12; guide §4.2, VERDICT r11 item 2).

``st_buffer`` over LineStrings had NO batch path: every row paid the
per-row general kernel (parse → stroke/join/cap piece construction →
``overlay.union_many`` → encode), measured at ~2.75 ms/row on the b1b
bench shape — with the time dominated not by arithmetic but by dozens of
tiny-array numpy calls per row inside the overlay engine (26 s at sf1).

This module runs the SAME pipeline for a whole batch of uniform 2-D
LineString rows at once, with every phase's per-pair / per-probe
arithmetic copied verbatim from the scalar code and candidates restricted
to same-row pairs. Output bytes are identical to the per-row path by
construction:

- piece construction (stroke rectangles, round-join circles, square caps)
  evaluates the same IEEE expressions elementwise (``q' = p + u*ln``,
  shared ``linspace`` angle tables, same vertex orders);
- the noding phase (``_split_at_crossings``) and the probe/cap phase
  (``_classify_and_stitch``'s head) build their candidate pairs through
  ``_grid_join`` + the same exact box filters, so restricting to same-row
  pairs yields exactly the per-row candidate sets; all split/cap/parity
  contributions are elementwise per pair (batch-size independent). The
  only batch-global quantity is the candidate-join dilation ``delta``
  (max over rows) — a superset whose extra candidates provably cannot
  change any probe epsilon (a hit's |t| is >= the Chebyshev distance to
  the segment box > 2.5·eps, so min(eps, 0.4·cap) stays eps);
- ring stitching runs the scalar's own ``overlay._stitch_edges`` per row;
- the union-envelope robustness check is evaluated per row with the same
  sequential accumulation order (``np.add.reduceat``), and a violating
  row falls back to the full scalar kernel (which then applies its own
  incremental-union fallback), exactly as ``union_many`` would.

Rows the lane does not cover — nulls (passed through as None),
MultiLineStrings, empty/one-point/all-degenerate chains — are flagged for
the caller's per-row scalar fill; batches the lane cannot parse at all
(mixed types, Z/M, big-endian, non-uniform SRID) return ``None`` for a
wholesale fallback. Parity is asserted byte-for-byte against the scalar
kernel in tests/test_r12_buffer_batch.py.
"""

from __future__ import annotations

import math

import numpy as np

from polars_st_spark.geo.algos import math_hypot
from polars_st_spark.geo.overlay import _grid_join, _stitch_edges
from polars_st_spark.geo.predicates import _EPS
from polars_st_spark.geo.types import Geometry, GeometryType

__all__ = ["buffer_lines_batch"]


def _grid_join_rows(abb, arow, obb, orow, margin):
    """Row-aware variant of ``overlay._grid_join``: same uniform-grid
    candidate generation, with the row id mixed into the cell key so
    spatially overlapping rows do not cross-join (the batch is thousands
    of independent per-row problems sharing one coordinate range). Key
    collisions only ever ADD candidates — every caller applies the exact
    box (+ same-row) filter afterwards, so the superset is safe."""
    na, no = len(abb), len(obb)
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    if not na or not no:
        return empty
    exts = np.concatenate([
        np.maximum(abb[:, 2] - abb[:, 0], abb[:, 3] - abb[:, 1]),
        np.maximum(obb[:, 2] - obb[:, 0], obb[:, 3] - obb[:, 1]),
    ])
    h = max(float(np.median(exts)), float(exts.max()) / 16.0, 1e-9) + 2.0 * margin

    def cells(bb, rowv, m):
        cx0 = np.clip(np.floor((bb[:, 0] - m) / h), -2**30, 2**30).astype(np.int64)
        cx1 = np.clip(np.floor((bb[:, 2] + m) / h), -2**30, 2**30).astype(np.int64)
        cy0 = np.clip(np.floor((bb[:, 1] - m) / h), -2**30, 2**30).astype(np.int64)
        cy1 = np.clip(np.floor((bb[:, 3] + m) / h), -2**30, 2**30).astype(np.int64)
        nx = cx1 - cx0 + 1
        ny = cy1 - cy0 + 1
        reps = nx * ny
        tot = int(reps.sum())
        idx = np.repeat(np.arange(len(bb), dtype=np.int64), reps)
        base = np.cumsum(reps) - reps
        k = np.arange(tot, dtype=np.int64) - np.repeat(base, reps)
        off_x = k // np.repeat(ny, reps)
        off_y = k - off_x * np.repeat(ny, reps)
        with np.errstate(over="ignore"):
            key = (
                (cx0[idx] + off_x) * np.int64(-7046029254386353131)
                ^ (cy0[idx] + off_y) * np.int64(-4417276706812531889)
                ^ rowv[idx] * np.int64(1609587929392839161)
            )
        return key, idx

    okey, oidx = cells(obb, orow, 0.0)
    akey, aidx = cells(abb, arow, margin)
    order = np.argsort(okey, kind="stable")
    okey_s = okey[order]
    oidx_s = oidx[order]
    lo = np.searchsorted(okey_s, akey, side="left")
    hi = np.searchsorted(okey_s, akey, side="right")
    counts = hi - lo
    tot = int(counts.sum())
    if not tot:
        return empty
    ia = np.repeat(aidx, counts)
    base = np.cumsum(counts) - counts
    pos = np.arange(tot, dtype=np.int64) - np.repeat(base, counts) + np.repeat(lo, counts)
    io = oidx_s[pos]
    return ia, io


def _ring_areas_grouped(flat, starts, length):
    """|signed area| for many closed rings of one shared vertex count —
    the scalar ``_ring_signed_area`` arithmetic (translate to first
    vertex, shoelace, 0.5·sum) applied along axis 1. ``np.sum`` reduces
    each row with the same pairwise tree a 1-D array of that length gets,
    so the floats match the per-ring calls."""
    if not len(starts):
        return np.empty(0, dtype=np.float64)
    idx = starts[:, None] + np.arange(length)[None, :]
    x = flat[idx, 0]
    y = flat[idx, 1]
    x = x - x[:, :1]
    y = y - y[:, :1]
    terms = x * np.roll(y, -1, axis=1) - np.roll(x, -1, axis=1) * y
    return np.abs(0.5 * np.sum(terms, axis=1))


def _split_rows(A, seg_rowc, seg_row_start=None, nseg_of=None):
    """Batched ``overlay._split_at_crossings(sa, sa)`` (self-noding), one
    independent problem per row: same candidate generation (a superset,
    then the exact dilated-box filter), same per-pair crossing/contact
    arithmetic, with candidates restricted to same-row pairs. Returns the
    sub-segment pieces ``(P0, P1, piece_seg)`` ordered by (segment id, t)
    — i.e. grouped by row, in each row's scalar piece order.

    Candidate superset: dense same-row pairs when every row is small
    (segments are row-grouped; avoids the grid join's key/sort machinery),
    else the row-aware grid join. Either way the exact ``near`` box test
    decides, so the final pair set — and every downstream float — is
    identical."""
    na = len(A)
    seg_i = [np.arange(na, dtype=np.int64), np.arange(na, dtype=np.int64)]
    seg_t = [np.zeros(na), np.ones(na)]
    Abb = np.stack([np.minimum(A[:, 0], A[:, 2]), np.minimum(A[:, 1], A[:, 3]),
                    np.maximum(A[:, 0], A[:, 2]), np.maximum(A[:, 1], A[:, 3])], 1)
    margin = 4.0 * _EPS
    if (seg_row_start is not None and len(nseg_of)
            and int(nseg_of.max()) <= 64
            and int((nseg_of * nseg_of).sum()) <= (1 << 25)):
        # total dense pairs capped (~33M ≈ 0.5 GB transient int64) — huge
        # batches fall back to the grid join rather than spike worker RSS
        cnts = nseg_of[seg_rowc]
        ia_all = np.repeat(np.arange(na, dtype=np.int64), cnts)
        base = np.cumsum(cnts) - cnts
        io_all = (np.arange(int(cnts.sum()), dtype=np.int64)
                  - np.repeat(base, cnts)
                  + np.repeat(seg_row_start[seg_rowc], cnts))
    else:
        ia_all, io_all = _grid_join_rows(Abb, seg_rowc, Abb, seg_rowc, margin)
    cand_tot = len(ia_all)
    # cache-resident chunks (see _inside_rows): this host streams large
    # temporaries at a few GB/s, so ~30 multi-MB passes per chunk would
    # dominate the lane
    CH = 1 << 17
    for lo in range(0, cand_tot, CH):
        hi = min(lo + CH, cand_tot)
        ia = ia_all[lo:hi]
        io = io_all[lo:hi]
        near = (
            (Abb[ia, 0] <= Abb[io, 2] + margin) & (Abb[io, 0] <= Abb[ia, 2] + margin)
            & (Abb[ia, 1] <= Abb[io, 3] + margin) & (Abb[io, 1] <= Abb[ia, 3] + margin)
            & (seg_rowc[ia] == seg_rowc[io])
        )
        sel = np.nonzero(near)[0]
        if not len(sel):
            continue
        ia = ia[sel]
        io = io[sel]
        ax, ay, bx, by = A[ia, 0], A[ia, 1], A[ia, 2], A[ia, 3]
        cx, cy, ex, ey = A[io, 0], A[io, 1], A[io, 2], A[io, 3]
        d1 = (ex - cx) * (ay - cy) - (ey - cy) * (ax - cx)
        d2 = (ex - cx) * (by - cy) - (ey - cy) * (bx - cx)
        d3 = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        d4 = (bx - ax) * (ey - ay) - (by - ay) * (ex - ax)
        sc_ab = np.maximum(np.maximum(np.abs(bx - ax), np.abs(by - ay)), 1.0)
        sc_ce = np.maximum(np.maximum(np.abs(ex - cx), np.abs(ey - cy)), 1.0)
        tol = _EPS * sc_ce * sc_ab
        proper = (
            ((d1 > tol) & (d2 < -tol)) | ((d1 < -tol) & (d2 > tol))
        ) & (((d3 > tol) & (d4 < -tol)) | ((d3 < -tol) & (d4 > tol)))
        pm = np.nonzero(proper)[0]
        if len(pm):
            den = ((ax[pm] - bx[pm]) * (cy[pm] - ey[pm])
                   - (ay[pm] - by[pm]) * (cx[pm] - ex[pm]))
            ok = den != 0
            t = ((ax[pm] - cx[pm]) * (cy[pm] - ey[pm])
                 - (ay[pm] - cy[pm]) * (cx[pm] - ex[pm]))
            t = t[ok] / den[ok]
            seg_i.append(ia[pm[ok]])
            seg_t.append(np.minimum(np.maximum(t, 0.0), 1.0))
        near1 = np.abs(d1) <= tol
        near2 = np.abs(d2) <= tol
        near3 = np.abs(d3) <= tol
        near4 = np.abs(d4) <= tol
        allnear = near1 & near2 & near3 & near4
        axis_x = np.abs(bx - ax) >= np.abs(by - ay)
        a1v = np.where(axis_x, ax, ay)
        b1v = np.where(axis_x, bx, by)
        c1v = np.where(axis_x, cx, cy)
        e1v = np.where(axis_x, ex, ey)
        lo_ = np.maximum(np.minimum(a1v, b1v), np.minimum(c1v, e1v))
        hi_ = np.minimum(np.maximum(a1v, b1v), np.maximum(c1v, e1v))
        col_hit = hi_ >= lo_ - _EPS

        def on_seg(px_, py_, sx, sy, tx, ty):
            cr = (tx - sx) * (py_ - sy) - (ty - sy) * (px_ - sx)
            sc = np.maximum(np.maximum(np.abs(tx - sx), np.abs(ty - sy)), 1.0)
            return (
                (np.abs(cr) <= _EPS * sc * sc)
                & (px_ >= np.minimum(sx, tx) - _EPS) & (px_ <= np.maximum(sx, tx) + _EPS)
                & (py_ >= np.minimum(sy, ty) - _EPS) & (py_ <= np.maximum(sy, ty) + _EPS)
            )

        touched = (
            (near1 & on_seg(ax, ay, cx, cy, ex, ey))
            | (near2 & on_seg(bx, by, cx, cy, ex, ey))
            | (near3 & on_seg(cx, cy, ax, ay, bx, by))
            | (near4 & on_seg(ex, ey, ax, ay, bx, by))
        )
        contact = ~proper & np.where(allnear, col_hit, touched)
        cm = np.nonzero(contact)[0]
        if len(cm):
            dx = bx[cm] - ax[cm]
            dy = by[cm] - ay[cm]
            use_x = np.abs(dx) >= np.abs(dy)
            den = np.where(use_x, dx, dy)
            safe = np.where(den != 0, den, 1.0)
            for px_, py_ in ((cx[cm], cy[cm]), (ex[cm], ey[cm])):
                num = np.where(use_x, px_ - ax[cm], py_ - ay[cm])
                t = np.where(den != 0, num / safe, 0.0)
                keep = (t > 0.0) & (t < 1.0) & on_seg(
                    px_, py_, ax[cm], ay[cm], bx[cm], by[cm])
                seg_i.append(ia[cm[keep]])
                seg_t.append(t[keep])

    all_i = np.concatenate(seg_i)
    all_t = np.concatenate(seg_t)
    order = np.lexsort((all_t, all_i))
    s, t = all_i[order], all_t[order]
    keep = np.ones(len(s), dtype=bool)
    keep[1:] = (s[1:] != s[:-1]) | (t[1:] != t[:-1])
    s, t = s[keep], t[keep]
    same = s[1:] == s[:-1]
    dt = t[1:] - t[:-1]
    sel = same & (dt > 1e-12)
    t0 = t[:-1][sel]
    t1 = t[1:][sel]
    si = s[1:][sel]
    P = A[si, :2]
    D = A[si, 2:] - A[si, :2]
    P0 = P + t0[:, None] * D
    P1 = P + t1[:, None] * D
    return P0, P1, si


def _inside_rows(flat, ring_start, ring_len, ring_rowc, px, py, probe_rowc,
                 ring_row_start=None, nrings_of=None):
    """Batched ``overlay._inside_batch`` for hole-free single-ring pieces:
    per (probe, same-row ring) boundary flag + ray-cast crossing parity
    with the scalar's edge enumeration (``(r[j], r[j-1])`` including the
    degenerate closing edge) and chunk arithmetic; a probe is inside when
    any of its row's rings reports boundary or odd parity — exactly the
    scalar's no-hole reduction (``res[sb] = res[si] = True``)."""
    P = len(px)
    res = np.zeros(P, dtype=bool)
    nr = len(ring_start)
    if not P or not nr:
        return res
    # edges: a = r[j], b = r[j-1]  (j = 0 wraps to the last vertex)
    tot = int(ring_len.sum())
    prev = np.arange(tot, dtype=np.int64) - 1
    ring_end = ring_start + ring_len
    prev[ring_start] = ring_end - 1
    eax = flat[:, 0]
    eay = flat[:, 1]
    ebx = flat[prev, 0]
    eby = flat[prev, 1]
    # ring bboxes (order-independent reductions)
    rx0 = np.minimum.reduceat(flat[:, 0], ring_start)
    rx1 = np.maximum.reduceat(flat[:, 0], ring_start)
    ry0 = np.minimum.reduceat(flat[:, 1], ring_start)
    ry1 = np.maximum.reduceat(flat[:, 1], ring_start)
    # (probe, ring) candidates: every ring of the probe's OWN row (rings
    # are row-grouped and counted per row — a dense same-row enumeration
    # beats the grid join's key/sort/searchsorted machinery at ~4 rings
    # per row), then the scalar's exact bbox±_EPS test. Rings outside the
    # box contribute exactly nothing (no boundary hit, even parity).
    if ring_row_start is not None:
        cnts = nrings_of[probe_rowc]
        pr_p = np.repeat(np.arange(P, dtype=np.int64), cnts)
        base = np.cumsum(cnts) - cnts
        pr_r = (np.arange(int(cnts.sum()), dtype=np.int64)
                - np.repeat(base, cnts)
                + np.repeat(ring_row_start[probe_rowc], cnts))
        keep = (
            (px[pr_p] >= rx0[pr_r] - _EPS) & (px[pr_p] <= rx1[pr_r] + _EPS)
            & (py[pr_p] >= ry0[pr_r] - _EPS) & (py[pr_p] <= ry1[pr_r] + _EPS)
        )
    else:
        Rbb = np.stack([rx0, ry0, rx1, ry1], 1)
        Pbb = np.stack([px, py, px, py], 1)
        pr_p, pr_r = _grid_join_rows(Pbb, probe_rowc, Rbb, ring_rowc, _EPS)
        if not len(pr_p):
            return res
        k = np.unique(pr_p * nr + pr_r)
        pr_p = k // nr
        pr_r = k % nr
        keep = (
            (px[pr_p] >= rx0[pr_r] - _EPS) & (px[pr_p] <= rx1[pr_r] + _EPS)
            & (py[pr_p] >= ry0[pr_r] - _EPS) & (py[pr_p] <= ry1[pr_r] + _EPS)
            & (probe_rowc[pr_p] == ring_rowc[pr_r])
        )
    pr_p = pr_p[keep]
    pr_r = pr_r[keep]
    npair = len(pr_p)
    if not npair:
        return res
    counts = ring_len[pr_r]
    bnd = np.zeros(npair, dtype=bool)
    tog_cnt = np.zeros(npair, dtype=np.int64)
    # chunk over PAIRS and expand the (pair -> edge) indices inside the
    # chunk: keeps every temporary cache-resident (this host is
    # bandwidth-capped — streaming multi-MB temporaries loses to the
    # scalar's tiny per-row arrays) and never materializes the full
    # expansion. Arithmetic per element is unchanged.
    PCH = max(1, (1 << 17) // max(int(counts.max()), 1))
    for plo in range(0, npair, PCH):
        phi = min(plo + PCH, npair)
        cnt = counts[plo:phi]
        tot = int(cnt.sum())
        pr = np.repeat(np.arange(plo, phi, dtype=np.int64), cnt)
        base = np.cumsum(cnt) - cnt
        ee = (np.arange(tot, dtype=np.int64)
              - np.repeat(base, cnt) + np.repeat(ring_start[pr_r[plo:phi]], cnt))
        p = pr_p[pr]
        PX, PY = px[p], py[p]
        AX, AY, BX, BY = eax[ee], eay[ee], ebx[ee], eby[ee]
        cross = (BX - AX) * (PY - AY) - (BY - AY) * (PX - AX)
        sc = np.maximum(np.maximum(np.abs(BX - AX), np.abs(BY - AY)), 1.0)
        on = (
            (np.abs(cross) <= _EPS * sc * sc)
            & (PX >= np.minimum(AX, BX) - _EPS) & (PX <= np.maximum(AX, BX) + _EPS)
            & (PY >= np.minimum(AY, BY) - _EPS) & (PY <= np.maximum(AY, BY) + _EPS)
        )
        m = np.nonzero(on)[0]
        if len(m):
            bnd[pr[m]] = True
        cond = (AY > PY) != (BY > PY)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = np.where(
                cond,
                (BX - AX) * (PY - AY) / np.where(BY - AY == 0, 1, BY - AY) + AX,
                np.inf,
            )
        tog = cond & (PX < x_int)
        m = np.nonzero(tog)[0]
        if len(m):
            tog_cnt[plo:phi] += np.bincount(pr[m] - plo, minlength=phi - plo)
    pos = bnd | ((tog_cnt & 1) == 1)
    m = np.nonzero(pos)[0]
    if len(m):
        res[pr_p[m]] = True
    return res


def buffer_lines_batch(vals, dv, quad_segs: int, cap_style: str):
    """Batch buffer of 2-D LineString EWKB rows with round joins and flat
    or square caps (positive per-row distances ``dv``).

    Returns ``(out, need_scalar)`` — ``out`` an object array of EWKB bytes
    (None for null rows), ``need_scalar`` a bool mask of rows the caller
    must fill with the per-row kernel — or ``None`` when the lane cannot
    parse the batch at all (caller falls back wholesale)."""
    if cap_style not in ("flat", "square"):
        return None
    from polars_st_spark.geo import ragged

    rl = ragged.parse_lineal(vals)
    if rl is None or rl.child_srid or not rl.srid_uniform:
        return None
    srid = int(rl.srid)
    n = rl.n
    out = np.empty(n, dtype=object)
    need = np.zeros(n, dtype=bool)
    nulls = rl.null_mask
    counts = np.bincount(rl.chain_row, minlength=n)
    # lane rows: non-null, exactly one chain, >= 2 points, >= 1 kept segment
    need |= (~nulls) & (counts != 1)
    rows_q = np.nonzero((~nulls) & (counts == 1))[0]
    if not len(rows_q):
        return out, need
    chain_of_row = np.full(n, -1, dtype=np.int64)
    chain_of_row[rl.chain_row] = np.arange(len(rl.chain_row))
    ck = chain_of_row[rows_q]
    c0 = rl.chain_start[ck]
    c1 = rl.chain_start[ck + 1]
    npts = c1 - c0
    short = npts < 2
    need[rows_q[short]] = True
    rows_q, c0, npts = rows_q[~short], c0[~short], npts[~short]
    if not len(rows_q):
        return out, need

    # --- raw segments per chain, degenerate (< 1e-12) skipped (scalar
    # _seg_dirs), kept in order ---
    coords = rl.coords
    nseg_raw = npts - 1
    tot_raw = int(nseg_raw.sum())
    srow_raw = np.repeat(rows_q, nseg_raw)
    base = np.cumsum(nseg_raw) - nseg_raw
    within = np.arange(tot_raw, dtype=np.int64) - np.repeat(base, nseg_raw)
    pidx = np.repeat(c0, nseg_raw) + within
    Pst = coords[pidx]
    Qst = coords[pidx + 1]
    dxy = Qst - Pst
    ln = math_hypot(dxy[:, 0], dxy[:, 1])  # scalar _seg_dirs: math.hypot
    kept = ln >= 1e-12
    nk_of = np.zeros(n, dtype=np.int64)
    np.add.at(nk_of, srow_raw[kept], 1)
    dead = rows_q[nk_of[rows_q] == 0]
    need[dead] = True
    live = nk_of[srow_raw] > 0
    kept &= live
    Pk = Pst[kept]
    lnk_ = ln[kept]
    uk = dxy[kept] / ln[kept][:, None]
    srow_k = srow_raw[kept]
    Qk = Pk + uk * lnk_[:, None]  # scalar: q' = p + u*ln (not the raw vertex)
    d_k = dv[srow_k]

    # --- piece rings, in the scalar's per-row order: stroke rects (segment
    # order), join circles (interior-vertex order), caps (start, end) ---
    ks = len(Pk)
    nxs = -uk[:, 1] * d_k
    nys = uk[:, 0] * d_k
    stroke = np.empty((ks, 5, 2), dtype=np.float64)
    stroke[:, 0, 0] = Pk[:, 0] + nxs
    stroke[:, 0, 1] = Pk[:, 1] + nys
    stroke[:, 1, 0] = Qk[:, 0] + nxs
    stroke[:, 1, 1] = Qk[:, 1] + nys
    stroke[:, 2, 0] = Qk[:, 0] - nxs
    stroke[:, 2, 1] = Qk[:, 1] - nys
    stroke[:, 3, 0] = Pk[:, 0] - nxs
    stroke[:, 3, 1] = Pk[:, 1] - nys
    stroke[:, 4] = stroke[:, 0]

    # interior junctions: kept segments after the first of their row
    first_of_row = np.ones(ks, dtype=bool)
    first_of_row[1:] = srow_k[1:] != srow_k[:-1]
    jmask = ~first_of_row
    Vj = Pk[jmask]
    dj = d_k[jmask]
    srow_j = srow_k[jmask]
    C = max(8, 4 * int(quad_segs))
    ang = np.linspace(0, 2 * math.pi, C, endpoint=False)
    ca_t, sa_t = np.cos(ang), np.sin(ang)
    kc = len(Vj)
    circ = np.empty((kc, C + 1, 2), dtype=np.float64)
    circ[:, :C, 0] = Vj[:, 0:1] + dj[:, None] * ca_t[None, :]
    circ[:, :C, 1] = Vj[:, 1:2] + dj[:, None] * sa_t[None, :]
    circ[:, C] = circ[:, 0]

    caps = np.empty((0, 5, 2), dtype=np.float64)
    srow_cap = np.empty(0, dtype=np.int64)
    if cap_style == "square":
        last_of_row = np.ones(ks, dtype=bool)
        last_of_row[:-1] = srow_k[1:] != srow_k[:-1]
        fm = np.nonzero(first_of_row)[0]
        lm = np.nonzero(last_of_row)[0]
        # start cap: p = first p, u_out = -first u; end cap: p = last q',
        # u_out = last u  (scalar _cap_pieces arithmetic)
        cp = np.concatenate([Pk[fm], Qk[lm]])
        cu = np.concatenate([-uk[fm], uk[lm]])
        cd = np.concatenate([d_k[fm], d_k[lm]])
        srow_cap = np.concatenate([srow_k[fm], srow_k[lm]])
        nlx = -cu[:, 1] * cd
        nly = cu[:, 0] * cd
        ex_ = cp[:, 0] + cu[:, 0] * cd
        ey_ = cp[:, 1] + cu[:, 1] * cd
        caps = np.empty((len(cp), 5, 2), dtype=np.float64)
        caps[:, 0, 0] = cp[:, 0] + nlx
        caps[:, 0, 1] = cp[:, 1] + nly
        caps[:, 1, 0] = ex_ + nlx
        caps[:, 1, 1] = ey_ + nly
        caps[:, 2, 0] = ex_ - nlx
        caps[:, 2, 1] = ey_ - nly
        caps[:, 3, 0] = cp[:, 0] - nlx
        caps[:, 3, 1] = cp[:, 1] - nly
        caps[:, 4] = caps[:, 0]

    # global piece order: sort (row, kind, within-kind) — strokes, then
    # circles, then caps per row, matching _buffer_general's append order
    kinds = np.concatenate([
        np.zeros(ks, dtype=np.int64),
        np.ones(kc, dtype=np.int64),
        np.full(len(caps), 2, dtype=np.int64),
    ])
    prow_all = np.concatenate([srow_k, srow_j, srow_cap])
    kidx = np.concatenate([
        np.arange(ks, dtype=np.int64),
        np.arange(kc, dtype=np.int64),
        np.arange(len(caps), dtype=np.int64),
    ])
    order = np.lexsort((kidx, kinds, prow_all))
    piece_row = prow_all[order]
    piece_kind = kinds[order]
    piece_kidx = kidx[order]
    piece_len = np.where(piece_kind == 1, C + 1, 5)

    npieces_of = np.zeros(n, dtype=np.int64)
    np.add.at(npieces_of, piece_row, 1)

    # single-piece rows: union_many's len==1 shortcut — the ring IS the
    # result polygon
    from polars_st_spark.geo.wkb import to_ewkb

    single_rows = np.nonzero(npieces_of == 1)[0]
    if len(single_rows):
        for j in np.nonzero(np.isin(piece_row, single_rows))[0]:
            ring = (stroke if piece_kind[j] == 0 else
                    circ if piece_kind[j] == 1 else caps)[piece_kidx[j]]
            out[piece_row[j]] = to_ewkb(Geometry(
                GeometryType.Polygon, srid=srid, rings=[ring.copy()]))

    eng_rows = np.nonzero(npieces_of >= 2)[0]
    if not len(eng_rows):
        return out, need
    rowc_of = np.full(n, -1, dtype=np.int64)
    rowc_of[eng_rows] = np.arange(len(eng_rows))
    R = len(eng_rows)
    pmask = rowc_of[piece_row] >= 0
    piece_row = piece_row[pmask]
    piece_kind = piece_kind[pmask]
    piece_kidx = piece_kidx[pmask]
    piece_len = piece_len[pmask]
    piece_rowc = rowc_of[piece_row]

    # flat ring coordinate array in global piece order
    ring_start = np.zeros(len(piece_len) + 1, dtype=np.int64)
    np.cumsum(piece_len, out=ring_start[1:])
    flat = np.empty((int(ring_start[-1]), 2), dtype=np.float64)
    for kind, arr in ((0, stroke), (1, circ), (2, caps)):
        sel = np.nonzero(piece_kind == kind)[0]
        if not len(sel):
            continue
        L = arr.shape[1]
        dst = (ring_start[sel][:, None] + np.arange(L)[None, :]).ravel()
        flat[dst] = arr[piece_kidx[sel]].reshape(-1, 2)
    ring_starts = ring_start[:-1]
    ring_lens = piece_len

    # --- piece areas (per ring; scalar _ring_signed_area arithmetic) and
    # the per-row envelope-check inputs ---
    pareas = np.empty(len(ring_starts), dtype=np.float64)
    for kind_len in (5, C + 1):
        sel = np.nonzero(ring_lens == kind_len)[0]
        if len(sel):
            pareas[sel] = _ring_areas_grouped(flat, ring_starts[sel], kind_len)
    # pieces are row-grouped: sequential per-row sums via reduceat match
    # the scalar's left-to-right accumulation
    row_piece_start = np.zeros(R, dtype=np.int64)
    cnt = np.bincount(piece_rowc, minlength=R)
    row_piece_start[1:] = np.cumsum(cnt)[:-1]
    sum_pa = np.add.reduceat(pareas, row_piece_start)
    max_pa = np.maximum.reduceat(pareas, row_piece_start)

    # --- boundary segments of every ring (consecutive pairs, exact-equal
    # skipped; the closing wrap pair is the ring's own repeat, also subject
    # to the skip) — scalar _segments ---
    tot_pts = len(flat)
    is_last = np.zeros(tot_pts, dtype=bool)
    is_last[ring_start[1:] - 1] = True
    cand = np.nonzero(~is_last)[0]
    eq = (flat[cand, 0] == flat[cand + 1, 0]) & (flat[cand, 1] == flat[cand + 1, 1])
    sidx = cand[~eq]
    A = np.empty((len(sidx), 4), dtype=np.float64)
    A[:, :2] = flat[sidx]
    A[:, 2:] = flat[sidx + 1]
    ring_of_pt = np.repeat(np.arange(len(ring_lens), dtype=np.int64), ring_lens)
    seg_rowc = piece_rowc[ring_of_pt[sidx]]

    # a row whose piece boundary degenerated entirely (possible only under
    # float absorption — |coords| so large the offset d vanishes in ulps):
    # pathological and rare, so route the whole engine set to the scalar
    # rather than carry a compaction path nothing exercises
    have_seg = np.zeros(R, dtype=bool)
    have_seg[seg_rowc] = True
    if not have_seg.all():
        need[eng_rows] = True
        return out, need

    # --- noding (self-split) ---
    scnt = np.bincount(seg_rowc, minlength=R)
    row_seg_start = np.zeros(R, dtype=np.int64)
    row_seg_start[1:] = np.cumsum(scnt)[:-1]
    P0, P1, piece_seg = _split_rows(A, seg_rowc, row_seg_start, scnt)
    sub_rowc = seg_rowc[piece_seg]

    # --- per-row scales and epsilons (scalar _classify_and_stitch head:
    # scale over segment START coords only; union_many's envelope scale
    # over both endpoints, perimeter sequential) ---
    scale_cls = np.ones(R, dtype=np.float64)
    np.maximum.at(scale_cls, seg_rowc, np.abs(A[:, 0]))
    np.maximum.at(scale_cls, seg_rowc, np.abs(A[:, 1]))
    base_eps = 1e-9 * scale_cls
    scale_env = np.ones(R, dtype=np.float64)
    for cidx in range(4):
        np.maximum.at(scale_env, seg_rowc, np.abs(A[:, cidx]))
    hyps = math_hypot(A[:, 2] - A[:, 0], A[:, 3] - A[:, 1])
    # segments are row-grouped (pieces are row-sorted): sequential per-row
    # sums — same accumulation order as the scalar '+=' loop
    perim = np.add.reduceat(hyps, row_seg_start)
    env = np.maximum(1e-9, 1e-7 * scale_env * perim)

    # --- probe construction + eps capping (scalar arithmetic, same-row
    # candidates; the join dilation is the batch max — a superset whose
    # extras cannot change eps, see module docstring) ---
    dvec = P1 - P0
    lnp = np.hypot(dvec[:, 0], dvec[:, 1])
    okp = lnp >= 1e-12
    ki = np.nonzero(okp)[0]
    if not len(ki):
        need[eng_rows] = True
        return out, need
    Pp, Qp = P0[ki], P1[ki]
    lnkp = lnp[ki]
    prowc = sub_rowc[ki]
    nx = -(Qp[:, 1] - Pp[:, 1]) / lnkp
    ny = (Qp[:, 0] - Pp[:, 0]) / lnkp
    M = (Pp + Qp) / 2.0
    be_k = base_eps[prowc]
    eps = np.maximum(be_k, np.minimum(1e-4 * scale_cls[prowc], 0.2 * lnkp))
    K = len(ki)
    cap_l = np.full(K, math.inf)
    cap_r = np.full(K, math.inf)
    row_eps_max = np.zeros(R, dtype=np.float64)
    np.maximum.at(row_eps_max, prowc, eps)
    delta_g = float((2.5 * row_eps_max + base_eps).max())
    Cc = A[:, :2]
    Dd = A[:, 2:] - A[:, :2]
    sx0 = np.minimum(Cc[:, 0], Cc[:, 0] + Dd[:, 0])
    sx1 = np.maximum(Cc[:, 0], Cc[:, 0] + Dd[:, 0])
    sy0 = np.minimum(Cc[:, 1], Cc[:, 1] + Dd[:, 1])
    sy1 = np.maximum(Cc[:, 1], Cc[:, 1] + Dd[:, 1])
    Sbb = np.stack([sx0, sy0, sx1, sy1], 1)
    Mbb = np.stack([M[:, 0], M[:, 1], M[:, 0], M[:, 1]], 1)
    p_of, s_of = _grid_join_rows(Mbb, prowc, Sbb, seg_rowc, delta_g)
    if len(p_of):
        okb = (
            (M[p_of, 0] >= sx0[s_of] - delta_g) & (M[p_of, 0] <= sx1[s_of] + delta_g)
            & (M[p_of, 1] >= sy0[s_of] - delta_g) & (M[p_of, 1] <= sy1[s_of] + delta_g)
            & (prowc[p_of] == seg_rowc[s_of])
        )
        p_of = p_of[okb]
        s_of = s_of[okb]
    if len(p_of):
        nxc = nx[p_of]
        nyc = ny[p_of]
        denom = nxc * Dd[s_of, 1] - nyc * Dd[s_of, 0]
        okd = np.abs(denom) > 1e-300
        dx = Cc[s_of, 0] - M[p_of, 0]
        dy = Cc[s_of, 1] - M[p_of, 1]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (dx * Dd[s_of, 1] - dy * Dd[s_of, 0]) / denom
            s = (dx * nyc - dy * nxc) / denom
        hit = okd & (s >= -1e-12) & (s <= 1.0 + 1e-12)
        bep = be_k[p_of]
        pm = hit & (t > bep)
        nm = hit & (t < -bep)
        np.minimum.at(cap_l, p_of[pm], t[pm])
        np.minimum.at(cap_r, p_of[nm], -t[nm])
    eps_l = np.maximum(be_k, np.minimum(eps, 0.4 * cap_l))
    eps_r = np.maximum(be_k, np.minimum(eps, 0.4 * cap_r))
    lx = M[:, 0] + eps_l * nx
    ly = M[:, 1] + eps_l * ny
    rx = M[:, 0] - eps_r * nx
    ry = M[:, 1] - eps_r * ny

    both = _inside_rows(
        flat, ring_starts, ring_lens, piece_rowc,
        np.concatenate([lx, rx]), np.concatenate([ly, ry]),
        np.concatenate([prowc, prowc]),
        ring_row_start=row_piece_start, nrings_of=cnt,
    )
    rlf = both[:K]
    rrf = both[K:]

    # --- directed result edges, per row, in piece order ---
    dis = np.nonzero(rlf != rrf)[0]
    # stitch + envelope check + encode, per row
    from polars_st_spark.geo.algos import area as _area_of

    if len(dis):
        erow = prowc[dis]
        eorder = np.argsort(erow, kind="stable")
        dis = dis[eorder]
        erow = erow[eorder]
        estarts = np.searchsorted(erow, np.arange(R + 1))
    else:
        estarts = np.zeros(R + 1, dtype=np.int64)
    for r in range(R):
        grow = int(eng_rows[r])
        lo, hi = int(estarts[r]), int(estarts[r + 1])
        edges = []
        for j in dis[lo:hi]:
            if rlf[j]:
                edges.append((Pp[j], Qp[j]))
            else:
                edges.append((Qp[j], Pp[j]))
        geom = _stitch_edges(edges, srid, float(base_eps[r]))
        aout = _area_of(geom)
        if not (max_pa[r] - env[r] <= aout <= sum_pa[r] + env[r]):
            need[grow] = True
            continue
        out[grow] = to_ewkb(geom)
    return out, need
