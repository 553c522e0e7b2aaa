"""Level-synchronous Sutherland–Hodgman batch kernel for row-paired
polygon × polygon intersection, plus the disjoint/empty fast lanes shared
with difference.

Scalar parity contract (the driver gate hashes output bytes, so every
emitted vertex must be bit-identical to the per-row path):

* the halfplane step reproduces ``setops._sh_clip_ring_halfplane`` /
  ``_edge_intersect`` elementwise — the ``>= -1e-12`` inclusion test, the
  crossing-point formula, and the ``den == 0 -> q`` fallback;
* ring keep/drop uses the same translated-shoelace signed area on the same
  closed slice (``algos._ring_signed_area``), with an exact ``np.sum``
  rescue inside the near-zero band where pairwise vs sequential summation
  could disagree;
* the dispatch mirrors ``setops.intersection`` → ``_intersection_impl``
  decision order: empty / disjoint rows short-circuit to the empty-polygon
  result, rows the scalar routes elsewhere (rectilinear region algebra,
  Multi sides, axis-rect × axis-rect, concave × concave overlay) are
  flagged back to the scalar caller and run row-wise inside the same UDF.

Reference operator surface: polars-st ``src/functions.rs:1096-1192``
(intersection / difference Expr ops); the execution strategy here is
original (numpy level-sync over CSR batches, not a port).
"""
from __future__ import annotations

import numpy as np

from polars_st_spark.geo import ragged as RG
from polars_st_spark.geo.arrowwkb import as_binary_array


def _row_ring_counts(rp) -> np.ndarray:
    return np.bincount(rp.ring_row, minlength=rp.n)


def _rows_all_region(rp) -> np.ndarray:
    """Rows whose EVERY ring passes ``_ring_as_rect`` — the
    ``geometry_to_region`` convertibility test (False for ringless rows)."""
    _, rect_full = RG._rings_as_axis_rect(rp)
    nr = _row_ring_counts(rp)
    full = np.bincount(rp.ring_row[rect_full], minlength=rp.n)
    return (nr > 0) & (full == nr)


def _rows_single_rect2(rp, tbyte: np.ndarray) -> np.ndarray:
    """Rows that satisfy ``algos._is_axis_rect``: a plain single-ring
    Polygon whose 4 effective corners take exactly two 12-dp-rounded x and
    y values."""
    rect2, _ = RG._rings_as_axis_rect(rp)
    nr = _row_ring_counts(rp)
    out = np.zeros(rp.n, dtype=bool)
    si = np.nonzero(nr == 1)[0]
    if len(si):
        first = np.searchsorted(rp.ring_row, si)
        out[si] = rect2[first]
    return out & (tbyte == 3)


def _rows_convex(rp, tbyte: np.ndarray) -> np.ndarray:
    """Vectorized ``setops._is_convex_polygon`` per row: single-ring
    Polygon rows with >= 3 effective vertices and no mixed-sign turn among
    the significant (|cross| >= 1e-15) consecutive-edge cross products."""
    n = rp.n
    out = np.zeros(n, dtype=bool)
    nr = _row_ring_counts(rp)
    rows = np.nonzero((nr == 1) & (tbyte == 3))[0]
    if not len(rows):
        return out
    ridx = np.searchsorted(rp.ring_row, rows)
    s = rp.ring_start[ridx]
    e = rp.ring_start[ridx + 1]
    npts = e - s
    first = rp.coords[s]
    last = rp.coords[np.maximum(e - 1, s)]
    closed = (npts >= 2) & (first[:, 0] == last[:, 0]) & (first[:, 1] == last[:, 1])
    eff = np.where(closed, npts - 1, npts)
    ok = eff >= 3
    rows, s, eff = rows[ok], s[ok], eff[ok]
    if not len(rows):
        return out
    tot = int(eff.sum())
    u_of = np.repeat(np.arange(len(rows)), eff)
    base = s[u_of]
    off = np.cumsum(eff) - eff
    i_ = np.arange(tot, dtype=np.int64) - off[u_of]
    nn = eff[u_of]
    o = rp.coords[base + i_]
    a = rp.coords[base + (i_ + 1) % nn]
    b = rp.coords[base + (i_ + 2) % nn]
    cr = ((a[:, 0] - o[:, 0]) * (b[:, 1] - o[:, 1])
          - (a[:, 1] - o[:, 1]) * (b[:, 0] - o[:, 0]))
    sig = np.abs(cr) >= 1e-15
    posn = np.bincount(u_of[sig & (cr > 0)], minlength=len(rows)) > 0
    negn = np.bincount(u_of[sig & (cr < 0)], minlength=len(rows)) > 0
    out[rows] = ~(posn & negn)
    return out


def _signed_area_units(coords: np.ndarray, starts: np.ndarray,
                       lens: np.ndarray) -> np.ndarray:
    """Per-unit ``algos._ring_signed_area`` over closed-ring slices:
    translated shoelace, reduceat-summed, with an exact ``np.sum`` rescue
    wherever |area| is small relative to the term magnitudes (pairwise vs
    sequential summation can differ in SIGN near zero)."""
    U = len(lens)
    if not U:
        return np.zeros(0)
    tot = int(lens.sum())
    u_of = np.repeat(np.arange(U), lens)
    off = np.cumsum(lens) - lens
    i_ = np.arange(tot, dtype=np.int64) - off[u_of]
    base = starts[u_of]
    nxt = base + (i_ + 1) % lens[u_of]
    idx = base + i_
    x0 = coords[starts[u_of], 0]
    y0 = coords[starts[u_of], 1]
    xk = coords[idx, 0] - x0
    yk = coords[idx, 1] - y0
    xn = coords[nxt, 0] - x0
    yn = coords[nxt, 1] - y0
    terms = xk * yn - xn * yk
    area = 0.5 * np.bincount(u_of, weights=terms, minlength=U)
    tsum = np.bincount(u_of, weights=np.abs(terms), minlength=U)
    amb = np.abs(area) < 1e-10 * tsum
    for u in np.nonzero(amb)[0]:
        sl = slice(starts[u], starts[u] + lens[u])
        x = coords[sl, 0] - coords[starts[u], 0]
        y = coords[sl, 1] - coords[starts[u], 1]
        area[u] = 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))
    return area


def _sh_clip_units(coords: np.ndarray, ulen: np.ndarray, urow: np.ndarray,
                   ccoords: np.ndarray, coff: np.ndarray,
                   cne: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Run the halfplane passes: unit u (one subject ring, owned by lane
    row ``urow[u]``) is clipped by its row's oriented closed clip ring
    ``ccoords[coff[r] : coff[r] + cne[r] + 1]``, all units in lockstep on
    the clip-edge index. Returns the final ``(coords, ulen)``."""
    U = len(ulen)
    max_e = int(cne.max()) if len(cne) else 0
    for e in range(max_e):
        act_u = (cne[urow] > e) & (ulen > 0)
        if not act_u.any():
            break
        V = int(ulen.sum())
        if V == 0:
            break
        u_of = np.repeat(np.arange(U), ulen)
        off_u = np.cumsum(ulen) - ulen
        k_ = np.arange(V, dtype=np.int64)
        i_ = k_ - off_u[u_of]
        va = act_u[u_of]
        prev = k_ - 1
        firsts = i_ == 0
        prev[firsts] = k_[firsts] + ulen[u_of[firsts]] - 1
        # clamp for inactive units (their a/b values are masked out by va,
        # but the gather itself must stay in range)
        cr_ = urow[u_of]
        eb = coff[cr_] + np.minimum(e, np.maximum(cne[cr_] - 1, 0))
        ax = ccoords[eb, 0]
        ay = ccoords[eb, 1]
        bx = ccoords[eb + 1, 0]
        by = ccoords[eb + 1, 1]
        cx = coords[:, 0]
        cy = coords[:, 1]
        s_cur = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        cur_in = s_cur >= -1e-12
        prev_in = cur_in[prev]
        cross = va & (cur_in != prev_in)
        cnt = np.where(va, cur_in.astype(np.int64) + cross, 1)
        newoff = np.cumsum(cnt) - cnt
        NV = int(newoff[-1] + cnt[-1]) if V else 0
        nc = np.empty((NV, 2), dtype=np.float64)
        ci = np.nonzero(cross)[0]
        if len(ci):
            px = cx[prev[ci]]
            py = cy[prev[ci]]
            qx = cx[ci]
            qy = cy[ci]
            x3, y3, x4, y4 = ax[ci], ay[ci], bx[ci], by[ci]
            den = (px - qx) * (y3 - y4) - (py - qy) * (x3 - x4)
            with np.errstate(divide="ignore", invalid="ignore"):
                t = ((px - x3) * (y3 - y4) - (py - y3) * (x3 - x4)) / den
                xx = np.where(den == 0, qx, px + t * (qx - px))
                xy = np.where(den == 0, qy, py + t * (qy - py))
            nc[newoff[ci], 0] = xx
            nc[newoff[ci], 1] = xy
        keepv = ~va | cur_in
        ki = np.nonzero(keepv)[0]
        pos = newoff[ki] + (va[ki] & cur_in[ki] & ~prev_in[ki])
        nc[pos] = coords[ki]
        ulen = np.bincount(u_of, weights=cnt, minlength=U).astype(np.int64)
        coords = nc
    return coords, ulen


def _first_ring_of_rows(rp, rows: np.ndarray) -> np.ndarray:
    return np.searchsorted(rp.ring_row, rows)


def _closed_clip_rings(rp, rows: np.ndarray):
    """Oriented (CCW) closed first rings of the given rows, concatenated:
    ``(ccoords, coff, cne)`` with ``cne`` the edge count per row — the
    exact ``_convex_clip_edges`` preparation (``_closed`` then reverse when
    the signed area is negative)."""
    ridx = _first_ring_of_rows(rp, rows)
    s = rp.ring_start[ridx]
    e = rp.ring_start[ridx + 1]
    npts = e - s
    first = rp.coords[s]
    last = rp.coords[np.maximum(e - 1, s)]
    closed_in = (npts >= 2) & (first[:, 0] == last[:, 0]) & (first[:, 1] == last[:, 1])
    clen = np.where(closed_in, npts, npts + 1)
    coff = np.concatenate([[0], np.cumsum(clen)])[:-1].astype(np.int64)
    tot = int(clen.sum())
    u_of = np.repeat(np.arange(len(rows)), clen)
    i_ = np.arange(tot, dtype=np.int64) - coff[u_of]
    src = s[u_of] + np.minimum(i_, npts[u_of] - 1)
    # the appended closing vertex duplicates the FIRST vertex
    app = ~closed_in[u_of] & (i_ == clen[u_of] - 1)
    src[app] = s[u_of[app]]
    cc = rp.coords[src].astype(np.float64, copy=True)
    area = _signed_area_units(cc, coff, clen)
    rev = area < 0
    for u in np.nonzero(rev)[0]:
        sl = slice(coff[u], coff[u] + clen[u])
        cc[sl] = cc[sl][::-1]
    return cc, coff, clen - 1


def _subject_units(rp, rows: np.ndarray, lanepos: np.ndarray):
    """Open subject rings (``_closed(r)[:-1]``) of the given rows:
    ``(coords, ulen, urow, uring_k)`` in row-major ring order."""
    sel = np.isin(rp.ring_row, rows)
    ri = np.nonzero(sel)[0]
    s = rp.ring_start[ri]
    e = rp.ring_start[ri + 1]
    npts = e - s
    first = rp.coords[s]
    last = rp.coords[np.maximum(e - 1, s)]
    closed = (npts >= 2) & (first[:, 0] == last[:, 0]) & (first[:, 1] == last[:, 1])
    eff = np.where(closed, npts - 1, npts).astype(np.int64)
    tot = int(eff.sum())
    u_of = np.repeat(np.arange(len(ri)), eff)
    off = np.concatenate([[0], np.cumsum(eff)])[:-1]
    i_ = np.arange(tot, dtype=np.int64) - off[u_of]
    coords = rp.coords[s[u_of] + i_].astype(np.float64, copy=True)
    urow = lanepos[rp.ring_row[ri]]
    # ring index within its row (rings are row-major in CSR order)
    row_first = np.searchsorted(rp.ring_row, rp.ring_row[ri])
    uring_k = ri - row_first
    return coords, eff, urow, uring_k


def _puntal_nulls(vals) -> np.ndarray | None:
    """null_mask when every non-null row is a 2-D LE Point or MultiPoint
    (their coordinate values never matter to the lower-dim passthrough);
    None otherwise."""
    nulls = np.zeros(len(vals), dtype=bool)
    for i, b in enumerate(as_binary_array(vals).to_pylist()):
        if b is None:
            nulls[i] = True
            continue
        h = RG._header(b)
        if h is None or h[0] not in (1, 4) or h[1] or h[2]:
            return None
    return nulls


def difference_lower_dim_batch(vals_a, vals_b):
    """Whole-batch ``st_difference`` passthrough when the right side is
    uniformly LOWER-dimensional than the left (areal − lineal, areal −
    multipoint, lineal − multipoint): GEOS semantics (and the scalar's
    ``b.dimensions() < a.dimensions()`` short-circuit, which fires before
    any collection fold) return ``a.copy()`` verbatim — the ``covers(b,
    a)`` precheck is identically False across dimensions once the left
    side has positive measure. Degenerate left rows (zero area / zero
    length — a sliver lying exactly on ``b`` CAN be covered by it) are
    flagged back to the scalar. Returns ``(out, need_scalar)`` or None."""
    ra = RG.parse_polygonal(vals_a)
    if ra is not None:
        meas = RG.area(ra)
        b_nulls = _puntal_nulls(vals_b)
        if b_nulls is None:
            rb = RG.parse_lineal(vals_b)
            b_nulls = rb.null_mask if rb is not None else None
    else:
        ra = RG.parse_lineal(vals_a)
        if ra is None:
            return None
        meas = RG.length(ra)
        b_nulls = _puntal_nulls(vals_b)
    if b_nulls is None:
        return None
    nulls = ra.null_mask | b_nulls
    need_scalar = ~nulls & (meas <= 0.0)
    out: list = [None] * ra.n
    RG._copy_rows(out, vals_a, np.nonzero(~nulls & ~need_scalar)[0])
    return out, need_scalar


def union_symdiff_disjoint_batch(vals_a, vals_b, op: str):
    """Whole-batch polygon×polygon ``st_union`` / ``st_symmetric_difference``
    fast lanes. Returns ``(out, need_scalar)`` or None.

    Scalar semantics mirrored exactly:
    * a empty → ``b.copy()`` (verbatim right bytes), else b empty →
      ``a.copy()`` — both ops short-circuit the same way;
    * DISJOINT plain-Polygon pairs → ``collect([a, b], dissolve=True)`` =
      MultiPolygon(a, b) with a's SRID, parts and rings in input order
      (union reaches the identical collect through union_all's absorption
      scan — nothing absorbs or merges across a disjoint pair);
    * every other live row is flagged scalar: intersecting pairs, Multi
      sides (union_all flattens and can merge a side's OWN parts), and —
      union only — both-rectilinear pairs (union_all's region algebra
      rebuilds rects in canonical corner order before the disjoint
      short-circuit can apply)."""
    ra = RG.parse_polygonal(vals_a)
    if ra is None or not ra.srid_uniform:
        return None
    rb = RG.parse_polygonal(vals_b)
    if rb is None:
        return None
    n = ra.n
    nulls = ra.null_mask | rb.null_mask
    a_empty = (np.diff(ra.row_start) == 0) & ~ra.null_mask
    b_empty = (np.diff(rb.row_start) == 0) & ~rb.null_mask
    live = ~nulls & ~a_empty & ~b_empty
    inter = RG.pairs_intersect(ra, rb)
    if inter is None:
        return None
    ta = RG._rows_type_byte(vals_a, ra.null_mask)
    tb = RG._rows_type_byte(vals_b, rb.null_mask)
    lane = live & ~inter & (ta == 3) & (tb == 3)
    if op == "union":
        lane &= ~(_rows_all_region(ra) & _rows_all_region(rb))
    need_scalar = live & ~lane
    lanepos = np.full(n, -1, dtype=np.int64)
    lane_rows = np.nonzero(lane)[0]
    lanepos[lane_rows] = np.arange(len(lane_rows))

    sa = np.nonzero(lane[ra.ring_row])[0]
    sb = np.nonzero(lane[rb.ring_row])[0]
    rows_all = np.concatenate([ra.ring_row[sa], rb.ring_row[sb]])
    side = np.concatenate([np.zeros(len(sa), dtype=np.int64),
                           np.ones(len(sb), dtype=np.int64)])
    npts = np.concatenate([
        ra.ring_start[sa + 1] - ra.ring_start[sa],
        rb.ring_start[sb + 1] - rb.ring_start[sb]])
    starts = np.concatenate([ra.ring_start[sa], rb.ring_start[sb]])
    order = np.lexsort((side, rows_all))  # stable: ring order kept per side
    rows_o = rows_all[order]
    side_o = side[order]
    npts_o = npts[order]
    starts_o = starts[order]
    R2 = len(rows_o)
    tot = int(npts_o.sum())
    r_of = np.repeat(np.arange(R2, dtype=np.int64), npts_o)
    off = np.cumsum(npts_o) - npts_o
    i_ = np.arange(tot, dtype=np.int64) - off[r_of]
    src = starts_o[r_of] + i_
    coords = np.empty((tot, 2), dtype=np.float64)
    ma = side_o[r_of] == 0
    coords[ma] = ra.coords[src[ma]]
    coords[~ma] = rb.coords[src[~ma]]
    # two parts per lane row (each side non-empty): global part id
    ring_part = lanepos[rows_o] * 2 + side_o
    part_row = np.repeat(lane_rows, 2)
    enc_null = ~lane
    out = RG.encode_polygonal_rows(
        n, np.full(n, 6, dtype=np.int64), part_row, ring_part, npts_o,
        coords, ra.srid, enc_null)
    RG._copy_rows(out, vals_b, np.nonzero(a_empty & ~nulls)[0])
    RG._copy_rows(out, vals_a, np.nonzero(b_empty & ~a_empty & ~nulls)[0])
    return out, need_scalar


def clip_poly_poly_batch(vals_a, vals_b, mode: str):
    """Whole-batch polygon×polygon intersection ('in') / difference
    ('out'). Returns ``(out, need_scalar)`` — EWKB/None per row with
    ``None`` at flagged positions — or None when the batch shape can't
    take the CSR path at all.

    'in': empty/disjoint rows short-circuit to the empty POLYGON
    (``_empty_like_overlay`` on two areal inputs), convex-clip rows run
    the level-sync SH kernel; region-algebra / Multi / rect×rect /
    concave×concave rows are flagged scalar.
    'out': empty-b/disjoint rows pass the left bytes through verbatim
    (``a.copy()``); every intersecting row is flagged scalar (the scalar
    runs a covers() precheck then the overlay)."""
    ra = RG.parse_polygonal(vals_a)
    if ra is None or not ra.srid_uniform:
        return None
    rb = RG.parse_polygonal(vals_b)
    if rb is None:
        return None
    n = ra.n
    nulls = ra.null_mask | rb.null_mask
    a_empty = (np.diff(ra.row_start) == 0) & ~ra.null_mask
    b_empty = (np.diff(rb.row_start) == 0) & ~rb.null_mask
    live = ~nulls & ~a_empty & ~b_empty
    inter = RG.pairs_intersect(ra, rb)
    if inter is None:
        return None
    cand = live & inter

    if mode == "out":
        need_scalar = cand.copy()
        out: list = [None] * n
        RG._copy_rows(out, vals_a, np.nonzero(~nulls & ~cand)[0])
        return out, need_scalar
    if mode != "in":
        return None

    ta = RG._rows_type_byte(vals_a, ra.null_mask)
    tb = RG._rows_type_byte(vals_b, rb.null_mask)
    flag = cand & ~((ta == 3) & (tb == 3))  # Multi / exotic types -> scalar
    flag |= cand & (_rows_all_region(ra) & _rows_all_region(rb))
    flag |= cand & (_rows_single_rect2(ra, ta) & _rows_single_rect2(rb, tb))
    sh = cand & ~flag
    conv_b = _rows_convex(rb, tb)
    conv_a = _rows_convex(ra, ta)
    use_b = sh & conv_b               # subject = a, clip = b
    use_a = sh & ~conv_b & conv_a     # subject = b, clip = a
    flag |= sh & ~conv_b & ~conv_a    # concave×concave -> overlay, scalar
    lane = use_b | use_a
    lane_rows = np.nonzero(lane)[0]
    L = len(lane_rows)
    lanepos = np.full(n, -1, dtype=np.int64)
    lanepos[lane_rows] = np.arange(L)

    kept_row = np.empty(0, dtype=np.int64)
    kept_k = np.empty(0, dtype=np.int64)
    kept_len = np.empty(0, dtype=np.int64)
    kept_start = np.empty(0, dtype=np.int64)
    closed_buf = np.empty((0, 2))
    row_forced_empty = np.zeros(L, dtype=bool)
    if L:
        rows_b = np.nonzero(use_b)[0]
        rows_a = np.nonzero(use_a)[0]
        # subject units from both groups share one kernel invocation
        sc_b, sl_b, sr_b, sk_b = _subject_units(ra, rows_b, lanepos)
        sc_a, sl_a, sr_a, sk_a = _subject_units(rb, rows_a, lanepos)
        coords = np.concatenate([sc_b, sc_a]) if len(sc_a) else sc_b
        ulen = np.concatenate([sl_b, sl_a])
        urow = np.concatenate([sr_b, sr_a])
        uk = np.concatenate([sk_b, sk_a])
        # clip rings per lane row (first ring of the convex side)
        cc = np.zeros((0, 2))
        coff_full = np.zeros(L, dtype=np.int64)
        cne_full = np.zeros(L, dtype=np.int64)
        cc_b, coff_b, cne_b = _closed_clip_rings(rb, rows_b)
        cc_a, coff_a, cne_a = _closed_clip_rings(ra, rows_a)
        cc = np.concatenate([cc_b, cc_a]) if len(cc_a) else cc_b
        coff_full[lanepos[rows_b]] = coff_b
        cne_full[lanepos[rows_b]] = cne_b
        coff_full[lanepos[rows_a]] = coff_a + len(cc_b)
        cne_full[lanepos[rows_a]] = cne_a
        coords, ulen = _sh_clip_units(coords, ulen, urow, cc,
                                      coff_full, cne_full)
        (kept_row, kept_k, kept_len, kept_start,
         closed_buf) = _keep_clipped_units(coords, ulen, urow, uk,
                                           row_forced_empty)

    return _encode_clip_rows(
        n, lane_rows, kept_row, kept_k, kept_len, kept_start, closed_buf,
        ra.srid, nulls | flag), flag


def _keep_clipped_units(coords, ulen, urow, uk, row_forced_empty):
    """Final keep/drop per unit, mirroring the scalar tail:
    len >= 3 -> close, keep iff |signed area| > 1e-24; len < 3 -> dropped,
    and if it is the EXTERIOR ring the whole row's result is the empty
    polygon. Returns (kept_row, kept_k, kept_len, kept_start, closed_buf);
    ``row_forced_empty`` is updated in place."""
    kept_row = np.empty(0, dtype=np.int64)
    kept_k = np.empty(0, dtype=np.int64)
    kept_len = np.empty(0, dtype=np.int64)
    kept_start = np.empty(0, dtype=np.int64)
    closed_buf = np.empty((0, 2))
    row_forced_empty[urow[(uk == 0) & (ulen < 3)]] = True
    alive = ulen >= 3
    ai = np.nonzero(alive)[0]
    if len(ai):
        off_u = np.cumsum(ulen) - ulen
        clens = ulen[ai] + 1
        cstart = np.concatenate([[0], np.cumsum(clens)])[:-1]
        tot = int(clens.sum())
        u_of = np.repeat(np.arange(len(ai)), clens)
        i_ = np.arange(tot, dtype=np.int64) - cstart[u_of]
        src = off_u[ai][u_of] + np.minimum(i_, ulen[ai][u_of] - 1)
        wrap = i_ == clens[u_of] - 1
        src[wrap] = off_u[ai[u_of[wrap]]]
        closed_buf = coords[src]
        areas = _signed_area_units(closed_buf, cstart, clens)
        keep = np.abs(areas) > 1e-24
        keep &= ~row_forced_empty[urow[ai]]
        ki = np.nonzero(keep)[0]
        kept_row = urow[ai[ki]]
        kept_k = uk[ai[ki]]
        kept_len = clens[ki]
        kept_start = cstart[ki]
    return kept_row, kept_k, kept_len, kept_start, closed_buf


def _encode_clip_rows(n, lane_rows, kept_row, kept_k, kept_len, kept_start,
                      closed_buf, srid, enc_null):
    """Assemble encode arrays (rings of kept units in (row, ring_k) order)
    and emit EWKB rows; lane rows with zero kept rings encode as the empty
    POLYGON."""
    order = np.lexsort((kept_k, kept_row))
    kept_row = kept_row[order]
    kept_len = kept_len[order]
    kept_start = kept_start[order]
    R = len(kept_row)
    if R:
        tot = int(kept_len.sum())
        u_of = np.repeat(np.arange(R), kept_len)
        off = np.concatenate([[0], np.cumsum(kept_len)])[:-1]
        i_ = np.arange(tot, dtype=np.int64) - off[u_of]
        enc_coords = closed_buf[kept_start[u_of] + i_]
    else:
        enc_coords = np.empty((0, 2))
    grow = lane_rows[kept_row]
    prow, ring_part = (np.unique(grow, return_inverse=True)
                       if R else (np.empty(0, dtype=np.int64),
                                  np.empty(0, dtype=np.int64)))
    return RG.encode_polygonal_rows(
        n, np.full(n, 3, dtype=np.int64), prow, ring_part, kept_len,
        enc_coords, srid, enc_null)


def clip_rect_const_batch(vals, x0: float, y0: float, x1: float, y1: float):
    """Whole-batch ``clip_by_rect`` against ONE constant rect (r12, guide
    §4.2 — the q_clip_by_rect/rect_suite shape used to run the per-row
    scalar SH kernel for every row). Plain single/multi-ring POLYGON rows
    run the level-sync SH kernel against the constant clip ring — the
    identical halfplane order ((x0,y0)→(x1,y0)→(x1,y1)→(x0,y1)→close) and
    arithmetic as setops._sh_clip_rings, so bytes match the scalar
    (asserted over the clip-position grid in tests/test_r12_clip_batch.py).
    Returns ``(out, need_scalar)`` — None at null/flagged positions — or
    None when the batch can't take the CSR path. Flagged scalar: empty
    inputs (scalar returns GEOMETRYCOLLECTION EMPTY) and non-POLYGON types
    (Multi recursion / collections)."""
    rp = RG.parse_polygonal(vals)
    if rp is None or not rp.srid_uniform:
        return None
    n = rp.n
    nulls = rp.null_mask
    nr = _row_ring_counts(rp)
    tb = RG._rows_type_byte(vals, nulls)
    lane = ~nulls & (tb == 3) & (nr > 0)
    flag = ~nulls & ~lane
    lane_rows = np.nonzero(lane)[0]
    L = len(lane_rows)
    lanepos = np.full(n, -1, dtype=np.int64)
    lanepos[lane_rows] = np.arange(L)

    kept_row = np.empty(0, dtype=np.int64)
    kept_k = np.empty(0, dtype=np.int64)
    kept_len = np.empty(0, dtype=np.int64)
    kept_start = np.empty(0, dtype=np.int64)
    closed_buf = np.empty((0, 2))
    if L:
        coords, ulen, urow, uk = _subject_units(rp, lane_rows, lanepos)
        cc = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                      dtype=np.float64)
        coff = np.zeros(L, dtype=np.int64)
        cne = np.full(L, 4, dtype=np.int64)
        row_forced_empty = np.zeros(L, dtype=bool)
        coords, ulen = _sh_clip_units(coords, ulen, urow, cc, coff, cne)
        (kept_row, kept_k, kept_len, kept_start,
         closed_buf) = _keep_clipped_units(coords, ulen, urow, uk,
                                           row_forced_empty)

    return _encode_clip_rows(
        n, lane_rows, kept_row, kept_k, kept_len, kept_start, closed_buf,
        rp.srid, nulls | flag), flag
