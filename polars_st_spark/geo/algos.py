"""Measures, transforms, and constructive operations.

Numpy implementations of the reference's elementwise kernels
(reference: src/functions.rs §measures 794-883, §constructive 1278-1698).
Edge-case conventions are copied from the cited reference lines:
- distance → NaN when either side is empty (functions.rs:823-825)
- bounds → [NaN]*4 when empty (functions.rs:798-813)
- x/y/z/m → NaN for non-Point or empty (functions.rs:445-487)
"""

from __future__ import annotations

import math

import numpy as np

from polars_st_spark.geo.types import (
    _COLLECTION_IDS,
    _LINEAL_IDS,
    _POLYGONAL_IDS,
    Geometry,
    GeometryType,
)

__all__ = [
    "area", "length", "distance", "centroid", "point_on_surface",
    "hausdorff_distance", "frechet_distance", "minimum_clearance",
    "convex_hull", "envelope", "center", "simplify", "segmentize",
    "remove_repeated_points", "reverse_geom", "flip_coordinates",
    "force_2d", "force_3d", "affine_transform", "translate", "rotate",
    "scale", "skew", "extract_unique_points", "boundary",
    "line_interpolate_point", "line_locate_point", "line_merge",
    "shortest_line", "snap", "minimum_rotated_rectangle",
    "is_ccw", "is_closed", "is_ring", "is_simple", "is_valid",
    "is_valid_reason", "make_valid", "normalize_geom", "multi",
    "buffer", "offset_curve", "reverse_geom", "total_bounds_merge",
]

_NAN = float("nan")


# ----------------------------------------------------------------------
# Measures
# ----------------------------------------------------------------------

def _ring_signed_area(r: np.ndarray) -> float:
    # translate to the first vertex: shoelace cross terms on large absolute
    # coordinates cancel catastrophically; relative coordinates keep the
    # error proportional to extent², not coordinate²
    x = r[:, 0] - r[0, 0]
    y = r[:, 1] - r[0, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def _maybe_linearize(g: Geometry) -> Geometry:
    from polars_st_spark.geo.curves import _is_curved, linearize

    return linearize(g) if _is_curved(g) else g


def area(g: Geometry) -> float:
    from polars_st_spark.geo.curves import _is_curved, exact_area

    if _is_curved(g):
        return float(exact_area(g))
    t = g.type_id
    if t in _POLYGONAL_IDS:
        if not g.rings:
            return 0.0
        a = abs(_ring_signed_area(g.rings[0]))
        for hole in g.rings[1:]:
            a -= abs(_ring_signed_area(hole))
        return a
    if g.geoms:
        return float(sum(area(s) for s in g.geoms))
    return 0.0


def _chain_length(c: np.ndarray) -> float:
    if c is None or len(c) < 2:
        return 0.0
    d = np.diff(c[:, :2], axis=0)
    return float(np.sqrt((d * d).sum(axis=1)).sum())


def length(g: Geometry) -> float:
    from polars_st_spark.geo.curves import _is_curved, exact_length

    if _is_curved(g):
        return float(exact_length(g))
    t = g.type_id
    if t in _LINEAL_IDS:
        return _chain_length(g.coords)
    if t in _POLYGONAL_IDS:
        return float(sum(_chain_length(_closed(r)) for r in (g.rings or [])))
    if g.geoms:
        return float(sum(length(s) for s in g.geoms))
    return 0.0


def _closed(r: np.ndarray) -> np.ndarray:
    if len(r) >= 2 and (r[0][0] != r[-1][0] or r[0][1] != r[-1][1]):
        return np.vstack([r, r[:1]])
    return r


def math_hypot(dx: np.ndarray, dy: np.ndarray) -> np.ndarray:
    """Elementwise ``math.hypot`` — NOT ``np.hypot``. CPython's 2-argument
    hypot (3.8+) uses a compensated, correctly-rounded algorithm that can
    differ from libm's in the last ulp, and the scalar kernels
    (``distance``'s point pairs, ``_seg_dirs``, ``union_many``'s perimeter)
    go through ``math.hypot``; byte parity requires the exact same values."""
    return np.fromiter(
        map(math.hypot, np.asarray(dx).tolist(), np.asarray(dy).tolist()),
        dtype=np.float64, count=len(dx))


def _seg_dist_point(px, py, ax, ay, bx, by):
    """Vectorized point-to-segment distances."""
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(ll > 0, ((px - ax) * dx + (py - ay) * dy) / np.where(ll == 0, 1, ll), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx, cy = ax + t * dx, ay + t * dy
    return np.sqrt((px - cx) ** 2 + (py - cy) ** 2)


def _min_dist_point_to_chain(p: np.ndarray, chain: np.ndarray) -> float:
    if len(chain) == 1:
        return float(math.hypot(p[0] - chain[0, 0], p[1] - chain[0, 1]))
    ax, ay = chain[:-1, 0], chain[:-1, 1]
    bx, by = chain[1:, 0], chain[1:, 1]
    return float(_seg_dist_point(p[0], p[1], ax, ay, bx, by).min())


def _min_dist_chains(c1: np.ndarray, c2: np.ndarray) -> float:
    from polars_st_spark.geo.predicates import _seg_intersect_kind

    best = math.inf
    # vertex-to-other-chain both directions (sufficient unless chains cross)
    for p in c1:
        best = min(best, _min_dist_point_to_chain(p[:2], c2))
    for p in c2:
        best = min(best, _min_dist_point_to_chain(p[:2], c1))
    if best > 0:
        for i in range(len(c1) - 1):
            for j in range(len(c2) - 1):
                if _seg_intersect_kind(c1[i, :2], c1[i + 1, :2], c2[j, :2], c2[j + 1, :2]):
                    return 0.0
    return best


def distance(a: Geometry, b: Geometry) -> float:
    """NaN if either side empty (reference: functions.rs:823-825)."""
    if a.is_empty() or b.is_empty():
        return _NAN
    from polars_st_spark.geo.curves import _is_curved, point_curve_distance
    from polars_st_spark.geo.predicates import _decompose, intersects, point_in_polygon

    # point ↔ non-areal curve: EXACT closed-form arc distance, no
    # linearization (GEOS 3.14 computes these natively; reference wkb.rs:58-62)
    for p, g in ((a, b), (b, a)):
        if p.type_id == GeometryType.Point and p.coords is not None and _is_curved(g):
            d = point_curve_distance(p.coords[:2], g)
            if d is not None:
                return d

    if intersects(a, b):
        return 0.0
    da = _decompose(a)
    db = _decompose(b)

    def chains(d):
        out = list(d.lines)
        for rings in d.polys:
            out.extend(_closed(r) for r in rings)
        return out

    best = math.inf
    ca, cb = chains(da), chains(db)
    for p in da.points:
        for q in db.points:
            best = min(best, math.hypot(p[0] - q[0], p[1] - q[1]))
        for c in cb:
            best = min(best, _min_dist_point_to_chain(p, c))
    for q in db.points:
        for c in ca:
            best = min(best, _min_dist_point_to_chain(q, c))
    for c1 in ca:
        for c2 in cb:
            best = min(best, _min_dist_chains(c1, c2))
    return float(best)


def centroid(g: Geometry) -> Geometry:
    """Area/length/point-weighted centroid of the highest-dimension parts.
    Curved geometries use the exact circular-segment closed forms
    (curves.exact_centroid) — no linearization deviation."""
    from polars_st_spark.geo.curves import _is_curved, exact_centroid

    if _is_curved(g):
        return exact_centroid(g)
    out = Geometry(GeometryType.Point, srid=g.srid, coords=None)
    dim = g.dimensions()
    if g.is_empty():
        return out
    if dim == 2:
        cx = cy = aa = 0.0
        for rings, sign0 in _iter_poly_rings(g):
            for k, r in enumerate(rings):
                rc = _closed(r)
                # relative coordinates: avoids shoelace cancellation on large
                # absolute coordinates (same fix as _ring_signed_area)
                ox, oy = rc[0, 0], rc[0, 1]
                x, y = rc[:, 0] - ox, rc[:, 1] - oy
                cross = x[:-1] * y[1:] - x[1:] * y[:-1]
                a6 = cross.sum() / 2.0
                if a6 == 0:
                    continue
                sgn = 1.0 if k == 0 else -1.0
                # normalize ring orientation so holes subtract
                ccx = float(((x[:-1] + x[1:]) * cross).sum() / 6.0)
                ccy = float(((y[:-1] + y[1:]) * cross).sum() / 6.0)
                mag = abs(a6)
                if a6 < 0:
                    ccx, ccy = -ccx, -ccy
                # un-translate the moment: centroid·|A| = (centroid' + o)·|A|
                ccx += ox * mag
                ccy += oy * mag
                cx += sgn * ccx
                cy += sgn * ccy
                aa += sgn * mag
        if aa != 0:
            out.coords = np.array([cx / aa, cy / aa])
            return out
        dim = 1  # degenerate polygons: fall back to length centroid
    if dim == 1:
        cx = cy = ll = 0.0
        for chain in _iter_chains(g):
            c = chain[:, :2]
            d = np.diff(c, axis=0)
            seg_len = np.sqrt((d * d).sum(axis=1))
            mids = (c[:-1] + c[1:]) / 2.0
            cx += float((mids[:, 0] * seg_len).sum())
            cy += float((mids[:, 1] * seg_len).sum())
            ll += float(seg_len.sum())
        if ll != 0:
            out.coords = np.array([cx / ll, cy / ll])
            return out
        dim = 0
    pts = g.all_coords()
    if len(pts):
        out.coords = np.array([float(pts[:, 0].mean()), float(pts[:, 1].mean())])
    return out


def _iter_poly_rings(g: Geometry):
    if g.type_id in _POLYGONAL_IDS and g.rings:
        yield g.rings, 1.0
    elif g.geoms:
        for s in g.geoms:
            yield from _iter_poly_rings(s)


def _iter_chains(g: Geometry):
    if g.type_id in _LINEAL_IDS and g.coords is not None and len(g.coords) >= 2:
        yield g.coords
    elif g.type_id in _POLYGONAL_IDS and g.rings:
        for r in g.rings:
            yield _closed(r)
    elif g.geoms:
        for s in g.geoms:
            yield from _iter_chains(s)


def _interior_point_of_rings(rings: list[np.ndarray]) -> np.ndarray | None:
    """GEOS-style interior point: midpoint of widest scanline intersection
    at the bbox vertical bisector."""
    from polars_st_spark.geo.predicates import point_in_polygon

    if not rings or len(rings[0]) < 3:
        return None
    ext = rings[0]
    ymid = (float(ext[:, 1].min()) + float(ext[:, 1].max())) / 2.0
    # nudge off vertices sharing the bisector y
    ys = np.unique(ext[:, 1])
    if np.any(np.abs(ys - ymid) < 1e-9) and len(ys) > 1:
        lower = ys[ys < ymid]
        upper = ys[ys > ymid]
        if len(lower) and len(upper):
            ymid = (float(lower.max()) + float(upper.min())) / 2.0
    xs = []
    for r in rings:
        rc = _closed(r)
        for i in range(len(rc) - 1):
            y1, y2 = rc[i, 1], rc[i + 1, 1]
            if (y1 > ymid) != (y2 > ymid):
                x = rc[i, 0] + (ymid - y1) * (rc[i + 1, 0] - rc[i, 0]) / (y2 - y1)
                xs.append(x)
    xs.sort()
    best, width = None, -1.0
    for i in range(0, len(xs) - 1, 2):
        mid = np.array([(xs[i] + xs[i + 1]) / 2.0, ymid])
        if xs[i + 1] - xs[i] > width and point_in_polygon(mid, rings) == 2:
            best, width = mid, xs[i + 1] - xs[i]
    return best


def point_on_surface(g: Geometry) -> Geometry:
    out = Geometry(GeometryType.Point, srid=g.srid, coords=None)
    if g.is_empty():
        return out
    if g.dimensions() == 2:
        for rings, _ in _iter_poly_rings(g):
            p = _interior_point_of_rings(rings)
            if p is not None:
                out.coords = p
                return out
    c = centroid(g)
    pts = g.all_coords()
    if c.coords is None or not len(pts):
        return out
    d = np.sqrt((pts[:, 0] - c.coords[0]) ** 2 + (pts[:, 1] - c.coords[1]) ** 2)
    out.coords = pts[int(np.argmin(d)), :2].copy()
    return out


def _densify_chain(c: np.ndarray, frac: float) -> np.ndarray:
    if frac <= 0 or frac >= 1 or len(c) < 2:
        return c
    out = [c[:1]]
    for i in range(len(c) - 1):
        a, b = c[i], c[i + 1]
        n = max(1, int(math.ceil(1.0 / frac)))
        ts = np.linspace(0, 1, n + 1)[1:]
        out.append(a[None, :] + ts[:, None] * (b - a)[None, :])
    return np.vstack(out)


def _vertex_set(g: Geometry, densify: float | None) -> np.ndarray:
    pts = []
    from polars_st_spark.geo.predicates import _decompose

    d = _decompose(g)
    for p in d.points:
        pts.append(p.reshape(1, 2))
    for c in d.lines:
        cc = _densify_chain(c[:, :2], densify or 0)
        pts.append(cc)
    for rings in d.polys:
        for r in rings:
            cc = _densify_chain(_closed(r)[:, :2], densify or 0)
            pts.append(cc)
    if not pts:
        return np.empty((0, 2))
    return np.vstack(pts)


def hausdorff_distance(a: Geometry, b: Geometry, densify: float | None = None) -> float:
    """Discrete (vertex-based) Hausdorff distance, optional densification
    (reference: functions.rs:831-849)."""
    if a.is_empty() or b.is_empty():
        return _NAN
    pa = _vertex_set(a, densify)
    pb = _vertex_set(b, densify)
    d2 = (
        (pa[:, None, 0] - pb[None, :, 0]) ** 2
        + (pa[:, None, 1] - pb[None, :, 1]) ** 2
    )
    return float(np.sqrt(max(d2.min(axis=1).max(), d2.min(axis=0).max())))


def frechet_distance(a: Geometry, b: Geometry, densify: float | None = None) -> float:
    """Discrete Fréchet distance over vertex sequences
    (reference: functions.rs:851-879; empty → NaN per :855-858)."""
    if a.is_empty() or b.is_empty():
        return _NAN
    ca = _vertex_set(a, densify)
    cb = _vertex_set(b, densify)
    n, m = len(ca), len(cb)
    d = np.sqrt(
        (ca[:, None, 0] - cb[None, :, 0]) ** 2 + (ca[:, None, 1] - cb[None, :, 1]) ** 2
    )
    dp = np.empty((n, m))
    dp[0, 0] = d[0, 0]
    for j in range(1, m):
        dp[0, j] = max(dp[0, j - 1], d[0, j])
    for i in range(1, n):
        dp[i, 0] = max(dp[i - 1, 0], d[i, 0])
        for j in range(1, m):
            dp[i, j] = max(min(dp[i - 1, j], dp[i - 1, j - 1], dp[i, j - 1]), d[i, j])
    return float(dp[n - 1, m - 1])


def minimum_clearance(a: Geometry) -> float:
    pts = a.all_coords()[:, :2]
    n = len(pts)
    if n < 2:
        return math.inf
    best = math.inf
    # vertex-vertex
    d2 = (pts[:, None, 0] - pts[None, :, 0]) ** 2 + (pts[:, None, 1] - pts[None, :, 1]) ** 2
    np.fill_diagonal(d2, np.inf)
    mask = d2 > 1e-24
    if mask.any():
        best = float(np.sqrt(d2[mask].min()))
    # vertex to non-adjacent segment
    for chain in _iter_chains(a):
        c = chain[:, :2]
        for i in range(len(c) - 1):
            a0, b0 = c[i], c[i + 1]
            dd = _seg_dist_point(pts[:, 0], pts[:, 1], a0[0], a0[1], b0[0], b0[1])
            dd = dd[dd > 1e-12]
            if len(dd):
                best = min(best, float(dd.min()))
    return best


# ----------------------------------------------------------------------
# Constructive
# ----------------------------------------------------------------------

def concave_hull(g: Geometry, ratio: float = 0.0, allow_holes: bool = False) -> Geometry:
    """Concave hull via Delaunay border-edge peeling (the GEOS 3.11 algorithm
    family; reference: functions.rs:1356-1362). ratio=1 → convex hull,
    ratio→0 → tightest hull. Holes are never introduced (allow_holes is
    accepted for signature parity; peeling keeps the region simply
    connected)."""
    from polars_st_spark.geo.triangulate import _bowyer_watson, _unique_points

    pts = _unique_points(g)
    if len(pts) < 3:
        return convex_hull(g)
    tris = set(map(tuple, _bowyer_watson(pts)))
    if not tris:
        return convex_hull(g)

    def edge_len(e):
        return float(math.hypot(*(pts[e[0]] - pts[e[1]])))

    def boundary_edges(tset):
        cnt: dict[tuple[int, int], list] = {}
        for t in tset:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (min(e), max(e))
                cnt.setdefault(k, []).append(t)
        return {e: ts[0] for e, ts in cnt.items() if len(ts) == 1}

    lens = sorted(edge_len(e) for t in tris for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])))
    if not lens:
        return convex_hull(g)
    max_len = lens[-1]
    min_len = lens[0]
    threshold = min_len + max(0.0, min(1.0, ratio)) * (max_len - min_len)
    # peel: remove border triangles whose border edge exceeds the threshold,
    # never disconnecting a vertex
    changed = True
    while changed:
        changed = False
        border = boundary_edges(tris)
        removable = sorted(border.items(), key=lambda kv: -edge_len(kv[0]))
        for e, t in removable:
            if edge_len(e) <= threshold:
                break
            # removing t must keep its third vertex attached to other triangles
            third = next(v for v in t if v not in e)
            others = [tt for tt in tris if tt != t and third in tt]
            if not others:
                continue
            if len(tris) <= 1:
                break
            tris.discard(t)
            changed = True
            break
    # stitch remaining boundary edges into the hull ring
    border = boundary_edges(tris)
    adj: dict[int, list[int]] = {}
    for a, b in border:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    if not adj:
        return convex_hull(g)
    start = min(adj)
    ring_idx = [start]
    prev, cur = None, start
    for _ in range(len(border) + 1):
        nbrs = [n for n in adj[cur] if n != prev]
        if not nbrs:
            break
        prev, cur = cur, nbrs[0]
        ring_idx.append(cur)
        if cur == start:
            break
    if ring_idx[-1] != start or len(ring_idx) < 4:
        return convex_hull(g)
    ring = pts[ring_idx]
    if _ring_signed_area(ring) < 0:
        ring = ring[::-1]
    return Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring])


def shared_paths(a: Geometry, b: Geometry) -> Geometry:
    """Collinear shared segments of two lineal geometries, split by direction
    (reference: functions.rs:1757-1763): GEOMETRYCOLLECTION(same-direction
    MultiLineString, opposite-direction MultiLineString). Errors on
    non-lineal input ("Geometry is not lineal")."""
    from polars_st_spark.geo.predicates import _decompose

    for g in (a, b):
        if g.dimensions() != 1:
            raise ValueError("Geometry is not lineal")
    same, opposite = [], []
    for ca in _decompose(a).lines:
        for cb in _decompose(b).lines:
            for i in range(len(ca) - 1):
                p, q = ca[i, :2], ca[i + 1, :2]
                for j in range(len(cb) - 1):
                    c, e = cb[j, :2], cb[j + 1, :2]
                    seg = _collinear_overlap(p, q, c, e)
                    if seg is None:
                        continue
                    s0, s1, same_dir = seg
                    target = same if same_dir else opposite
                    target.append(np.array([s0, s1]))
    def ml(chunks):
        return Geometry(
            GeometryType.MultiLineString, srid=a.srid,
            geoms=[Geometry(GeometryType.LineString, srid=a.srid, coords=c) for c in chunks],
        )

    return Geometry(GeometryType.GeometryCollection, srid=a.srid, geoms=[ml(same), ml(opposite)])


def _collinear_overlap(p, q, c, e):
    from polars_st_spark.geo.predicates import _seg_intersect_kind

    if _seg_intersect_kind(p, q, c, e) != 3:
        return None
    axis = 0 if abs(q[0] - p[0]) >= abs(q[1] - p[1]) else 1
    d1 = q[axis] - p[axis]
    d2 = e[axis] - c[axis]
    lo = max(min(p[axis], q[axis]), min(c[axis], e[axis]))
    hi = min(max(p[axis], q[axis]), max(c[axis], e[axis]))
    if hi - lo <= 1e-12:
        return None
    t = (q - p) / d1
    s0 = p + (lo - p[axis]) * t
    s1 = p + (hi - p[axis]) * t
    same_dir = (d1 > 0) == (d2 > 0)
    if d1 < 0:
        s0, s1 = s1, s0
    return s0, s1, same_dir


def convex_hull(g: Geometry) -> Geometry:
    """Monotone-chain convex hull."""
    pts = np.unique(g.all_coords()[:, :2], axis=0)
    if len(pts) == 0:
        return Geometry(GeometryType.GeometryCollection, srid=g.srid, geoms=[])
    if len(pts) == 1:
        return Geometry(GeometryType.Point, srid=g.srid, coords=pts[0])
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    P = pts[order]

    def half(points):
        out: list[np.ndarray] = []
        for p in points:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(P)
    upper = half(P[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    if len(hull) < 3:
        return Geometry(GeometryType.LineString, srid=g.srid, coords=np.array([P[0], P[-1]], dtype=np.float64))
    ring = np.vstack([hull, hull[:1]])
    # GEOS emits CCW hulls
    if _ring_signed_area(ring) < 0:
        ring = ring[::-1]
    return Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring])


def envelope(g: Geometry) -> Geometry:
    x0, y0, x1, y1 = g.bounds()
    if x0 != x0:
        return Geometry(GeometryType.Point, srid=g.srid, coords=None)
    if x0 == x1 and y0 == y1:
        return Geometry(GeometryType.Point, srid=g.srid, coords=np.array([x0, y0]))
    if x0 == x1 or y0 == y1:
        return Geometry(
            GeometryType.LineString, srid=g.srid, coords=np.array([[x0, y0], [x1, y1]])
        )
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
    return Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring])


def center(g: Geometry) -> Geometry:
    """bbox midpoint; POINT EMPTY for empty input (reference: functions.rs:1325-1335)."""
    x0, y0, x1, y1 = g.bounds()
    if x0 != x0:
        return Geometry(GeometryType.Point, srid=g.srid, coords=None)
    return Geometry(GeometryType.Point, srid=g.srid, coords=np.array([(x0 + x1) / 2, (y0 + y1) / 2]))


def _dp_simplify(c: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker."""
    if len(c) < 3:
        return c
    keep = np.zeros(len(c), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(c) - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        seg = c[i + 1 : j, :2]
        d = _seg_dist_point(seg[:, 0], seg[:, 1], c[i, 0], c[i, 1], c[j, 0], c[j, 1])
        k = int(np.argmax(d))
        if d[k] > tol:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    return c[keep]


def simplify(g: Geometry, tolerance: float, preserve_topology: bool = True) -> Geometry:
    def f(t: Geometry) -> Geometry:
        if t.type_id in _LINEAL_IDS and t.coords is not None:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m,
                            coords=_dp_simplify(t.coords, tolerance))
        if t.type_id in _POLYGONAL_IDS and t.rings:
            rings = []
            for r in t.rings:
                s = _dp_simplify(_closed(r), tolerance)
                if len(s) >= 4:
                    rings.append(s)
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m, rings=rings)
        if t.geoms is not None:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m,
                            geoms=[f(s) for s in t.geoms])
        return t

    return f(g)


def segmentize(g: Geometry, max_segment_length: float) -> Geometry:
    if max_segment_length <= 0:
        raise ValueError("max_segment_length must be positive")

    def split_chain(c: np.ndarray) -> np.ndarray:
        if len(c) < 2:
            return c
        out = [c[:1]]
        for i in range(len(c) - 1):
            a, b = c[i], c[i + 1]
            seg = math.hypot(b[0] - a[0], b[1] - a[1])
            n = max(1, int(math.ceil(seg / max_segment_length)))
            ts = np.linspace(0, 1, n + 1)[1:]
            out.append(a[None, :] + ts[:, None] * (b - a)[None, :])
        return np.vstack(out)

    def f(t: Geometry) -> Geometry:
        if t.type_id in _LINEAL_IDS and t.coords is not None:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m, coords=split_chain(t.coords))
        if t.type_id in _POLYGONAL_IDS and t.rings:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m,
                            rings=[split_chain(_closed(r)) for r in t.rings])
        if t.geoms is not None:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m, geoms=[f(s) for s in t.geoms])
        return t

    return f(g)


def remove_repeated_points(g: Geometry, tolerance: float = 0.0) -> Geometry:
    def dedup(c: np.ndarray, is_ring: bool) -> np.ndarray:
        if len(c) < 2:
            return c
        d = np.sqrt(((np.diff(c[:, :2], axis=0)) ** 2).sum(axis=1))
        keep = np.concatenate([[True], d > tolerance])
        out = c[keep]
        min_n = 4 if is_ring else 2
        if len(out) < min_n:
            return c[: min_n] if len(c) >= min_n else c
        return out

    def f(t: Geometry) -> Geometry:
        if t.type_id in _LINEAL_IDS and t.coords is not None:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m, coords=dedup(t.coords, False))
        if t.type_id in _POLYGONAL_IDS and t.rings:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m,
                            rings=[dedup(r, True) for r in t.rings])
        if t.geoms is not None:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m, geoms=[f(s) for s in t.geoms])
        return t

    return f(g)


def reverse_geom(g: Geometry) -> Geometry:
    def f(t: Geometry) -> Geometry:
        if t.type_id in _LINEAL_IDS and t.coords is not None:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m, coords=t.coords[::-1].copy())
        if t.type_id in _POLYGONAL_IDS and t.rings:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m,
                            rings=[r[::-1].copy() for r in t.rings])
        if t.geoms is not None:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m, geoms=[f(s) for s in t.geoms])
        return t

    return f(g)


def flip_coordinates(g: Geometry) -> Geometry:
    def flip(arr: np.ndarray) -> np.ndarray:
        out = arr.copy()
        out[:, 0], out[:, 1] = arr[:, 1].copy(), arr[:, 0].copy()
        return out

    return g.map_coords(flip)


def force_2d(g: Geometry) -> Geometry:
    if not g.has_z and not g.has_m:
        return g

    def f(t: Geometry) -> Geometry:
        if t.type_id == GeometryType.Point:
            c = None if t.coords is None else t.coords[:2].copy()
            return Geometry(t.type_id, srid=t.srid, coords=c)
        if t.type_id in _LINEAL_IDS:
            c = None if t.coords is None else t.coords[:, :2].copy()
            return Geometry(t.type_id, srid=t.srid, coords=c)
        if t.type_id in _POLYGONAL_IDS:
            return Geometry(t.type_id, srid=t.srid, rings=[r[:, :2].copy() for r in (t.rings or [])])
        return Geometry(t.type_id, srid=t.srid, geoms=[f(s) for s in (t.geoms or [])])

    return f(g)


def drop_m(g: Geometry) -> Geometry:
    """Strip the M ordinate, keeping X/Y (and Z when present) — the
    GEOS WKBWriter semantics for output_dimension=3 on XYZM input."""
    if not g.has_m:
        return g
    keep = 3 if g.has_z else 2

    def f(t: Geometry) -> Geometry:
        if t.type_id == GeometryType.Point:
            c = None if t.coords is None else t.coords[:keep].copy()
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, coords=c)
        if t.type_id in _LINEAL_IDS:
            c = None if t.coords is None else t.coords[:, :keep].copy()
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, coords=c)
        if t.type_id in _POLYGONAL_IDS:
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z,
                            rings=[r[:, :keep].copy() for r in (t.rings or [])])
        return Geometry(t.type_id, srid=t.srid, has_z=t.has_z,
                        geoms=[f(s) for s in (t.geoms or [])])

    return f(g)


def force_3d(g: Geometry, z: float = 0.0) -> Geometry:
    if g.has_z:
        return g

    def f(t: Geometry) -> Geometry:
        if t.type_id == GeometryType.Point:
            c = None if t.coords is None else np.append(t.coords[:2], z)
            return Geometry(t.type_id, srid=t.srid, has_z=True, coords=c)
        if t.type_id in _LINEAL_IDS:
            c = None
            if t.coords is not None:
                c = np.column_stack([t.coords[:, :2], np.full(len(t.coords), z)])
            return Geometry(t.type_id, srid=t.srid, has_z=True, coords=c)
        if t.type_id in _POLYGONAL_IDS:
            rings = [np.column_stack([r[:, :2], np.full(len(r), z)]) for r in (t.rings or [])]
            return Geometry(t.type_id, srid=t.srid, has_z=True, rings=rings)
        return Geometry(t.type_id, srid=t.srid, has_z=True, geoms=[f(s) for s in (t.geoms or [])])

    return f(g)


# --- affine family (reference: functions.rs:179-255,1494-1698) ---

def affine_transform(g: Geometry, matrix) -> Geometry:
    """matrix of 6 (2D: a,b,d,e,xoff,yoff) or 12 (3D) elements, shapely order."""
    m = [float(v) for v in matrix]
    if len(m) == 6:
        a, b, d, e, xoff, yoff = m

        def f(arr: np.ndarray) -> np.ndarray:
            out = arr.copy()
            out[:, 0] = a * arr[:, 0] + b * arr[:, 1] + xoff
            out[:, 1] = d * arr[:, 0] + e * arr[:, 1] + yoff
            return out

    elif len(m) == 12:
        a, b, c, d, e, f_, gg, h, i, xoff, yoff, zoff = m

        def f(arr: np.ndarray) -> np.ndarray:
            out = arr.copy()
            z = arr[:, 2] if arr.shape[1] > 2 else np.zeros(len(arr))
            out[:, 0] = a * arr[:, 0] + b * arr[:, 1] + c * z + xoff
            out[:, 1] = d * arr[:, 0] + e * arr[:, 1] + f_ * z + yoff
            if arr.shape[1] > 2:
                out[:, 2] = gg * arr[:, 0] + h * arr[:, 1] + i * z + zoff
            return out

    else:
        raise ValueError("matrix must have 6 or 12 elements")
    return g.map_coords(f)


def _origin_xy(g: Geometry, origin) -> tuple[float, float]:
    if origin == "center":
        x0, y0, x1, y1 = g.bounds()
        return ((x0 + x1) / 2.0, (y0 + y1) / 2.0)
    if origin == "centroid":
        c = centroid(g)
        if c.coords is None:
            return (0.0, 0.0)
        return (float(c.coords[0]), float(c.coords[1]))
    x, y = float(origin[0]), float(origin[1])
    return (x, y)


def translate(g: Geometry, x: float = 0.0, y: float = 0.0, z: float = 0.0) -> Geometry:
    def f(arr: np.ndarray) -> np.ndarray:
        out = arr.copy()
        out[:, 0] += x
        out[:, 1] += y
        if arr.shape[1] > 2 and z:
            out[:, 2] += z
        return out

    return g.map_coords(f)


def rotate(g: Geometry, angle_deg: float, origin="center") -> Geometry:
    """Angle in degrees (reference converts deg→rad, functions.rs:215-227)."""
    if g.is_empty():
        return g
    ox, oy = _origin_xy(g, origin)
    rad = math.radians(angle_deg)
    ca, sa = math.cos(rad), math.sin(rad)

    def f(arr: np.ndarray) -> np.ndarray:
        out = arr.copy()
        dx = arr[:, 0] - ox
        dy = arr[:, 1] - oy
        out[:, 0] = ox + ca * dx - sa * dy
        out[:, 1] = oy + sa * dx + ca * dy
        return out

    return g.map_coords(f)


def scale(g: Geometry, x: float = 1.0, y: float = 1.0, z: float = 1.0, origin="center") -> Geometry:
    if g.is_empty():
        return g
    ox, oy = _origin_xy(g, origin)

    def f(arr: np.ndarray) -> np.ndarray:
        out = arr.copy()
        out[:, 0] = ox + x * (arr[:, 0] - ox)
        out[:, 1] = oy + y * (arr[:, 1] - oy)
        if arr.shape[1] > 2:
            out[:, 2] = z * arr[:, 2]
        return out

    return g.map_coords(f)


def skew(g: Geometry, x: float = 0.0, y: float = 0.0, origin="center") -> Geometry:
    """Shear by angles in degrees (reference: functions.rs:242-255 tangent of radians)."""
    if g.is_empty():
        return g
    ox, oy = _origin_xy(g, origin)
    tx = math.tan(math.radians(x))
    ty = math.tan(math.radians(y))

    def f(arr: np.ndarray) -> np.ndarray:
        out = arr.copy()
        dx = arr[:, 0] - ox
        dy = arr[:, 1] - oy
        out[:, 0] = ox + dx + tx * dy
        out[:, 1] = oy + ty * dx + dy
        return out

    return g.map_coords(f)


def extract_unique_points(g: Geometry) -> Geometry:
    pts = g.all_coords()
    seen = set()
    out = []
    for p in pts:
        key = (float(p[0]), float(p[1]))
        if key not in seen:
            seen.add(key)
            out.append(Geometry(GeometryType.Point, srid=g.srid, coords=p[:2].copy()))
    return Geometry(GeometryType.MultiPoint, srid=g.srid, geoms=out)


def boundary(g: Geometry) -> Geometry:
    """Point→empty GC, Line→boundary points, Polygon→rings
    (GEOS semantics; GC input special-cased per functions.rs:1281-1284)."""
    t = g.type_id
    if t == GeometryType.GeometryCollection:
        return Geometry(GeometryType.GeometryCollection, srid=g.srid, geoms=[])
    if t in (GeometryType.Point, GeometryType.MultiPoint):
        return Geometry(GeometryType.GeometryCollection, srid=g.srid, geoms=[])
    if t in _LINEAL_IDS or t == GeometryType.MultiLineString:
        from polars_st_spark.geo.predicates import _decompose, _line_boundary_points

        pts = _line_boundary_points(_decompose(g).lines)
        geoms = [Geometry(GeometryType.Point, srid=g.srid, coords=np.asarray(p)) for p in pts]
        return Geometry(GeometryType.MultiPoint, srid=g.srid, geoms=geoms)
    # polygonal
    rings = []
    for rs, _ in _iter_poly_rings(g):
        for r in rs:
            rings.append(Geometry(GeometryType.LineString, srid=g.srid, coords=_closed(r).copy()))
    if len(rings) == 1:
        out = rings[0]
        return out
    return Geometry(GeometryType.MultiLineString, srid=g.srid, geoms=rings)


def line_interpolate_point(g: Geometry, dist: float, normalized: bool = False) -> Geometry:
    """(reference: functions.rs:1700-1717)"""
    out = Geometry(GeometryType.Point, srid=g.srid, coords=None)
    chains = list(_iter_chains(g))
    if not chains:
        return out
    c = chains[0][:, :2]
    total = _chain_length(c)
    d = dist * total if normalized else dist
    if d < 0:
        d = max(0.0, total + d)
    d = min(max(d, 0.0), total)
    acc = 0.0
    for i in range(len(c) - 1):
        seg = math.hypot(c[i + 1, 0] - c[i, 0], c[i + 1, 1] - c[i, 1])
        if acc + seg >= d or i == len(c) - 2:
            t = 0.0 if seg == 0 else (d - acc) / seg
            t = min(max(t, 0.0), 1.0)
            out.coords = c[i] + t * (c[i + 1] - c[i])
            return out
        acc += seg
    return out


def line_locate_point(g: Geometry, p: Geometry, normalized: bool = False) -> float:
    """project() — NaN guards for empty (reference: functions.rs:1719-1743)."""
    if g.is_empty() or p.is_empty():
        return _NAN
    chains = list(_iter_chains(g))
    if not chains or p.coords is None:
        return _NAN
    c = chains[0][:, :2]
    q = p.coords[:2]
    best_d = math.inf
    best_loc = 0.0
    acc = 0.0
    for i in range(len(c) - 1):
        a, b = c[i], c[i + 1]
        seg = math.hypot(b[0] - a[0], b[1] - a[1])
        if seg > 0:
            t = ((q[0] - a[0]) * (b[0] - a[0]) + (q[1] - a[1]) * (b[1] - a[1])) / (seg * seg)
            t = min(max(t, 0.0), 1.0)
            px, py = a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])
            d = math.hypot(q[0] - px, q[1] - py)
            if d < best_d:
                best_d = d
                best_loc = acc + t * seg
        acc += seg
    if normalized:
        return best_loc / acc if acc > 0 else 0.0
    return best_loc


def line_merge(g: Geometry, directed: bool = False) -> Geometry:
    """Join connected linestrings end-to-end (reference: functions.rs:1745-1755)."""
    from polars_st_spark.geo.predicates import _decompose

    chains = [c.copy() for c in _decompose(g).lines]
    merged = True
    while merged and len(chains) > 1:
        merged = False
        for i in range(len(chains)):
            for j in range(i + 1, len(chains)):
                a, b = chains[i], chains[j]
                join = None
                if np.allclose(a[-1], b[0]):
                    join = np.vstack([a, b[1:]])
                elif not directed and np.allclose(a[-1], b[-1]):
                    join = np.vstack([a, b[::-1][1:]])
                elif not directed and np.allclose(a[0], b[0]):
                    join = np.vstack([a[::-1], b[1:]])
                elif np.allclose(b[-1], a[0]):
                    join = np.vstack([b, a[1:]])
                if join is not None:
                    chains[i] = join
                    chains.pop(j)
                    merged = True
                    break
            if merged:
                break
    if not chains:
        return Geometry(GeometryType.GeometryCollection, srid=g.srid, geoms=[])
    if len(chains) == 1:
        return Geometry(GeometryType.LineString, srid=g.srid, coords=chains[0])
    return Geometry(
        GeometryType.MultiLineString,
        srid=g.srid,
        geoms=[Geometry(GeometryType.LineString, srid=g.srid, coords=c) for c in chains],
    )


def shortest_line(a: Geometry, b: Geometry) -> Geometry:
    """LINESTRING EMPTY if either empty (reference: functions.rs:1765-1777)."""
    if a.is_empty() or b.is_empty():
        return Geometry(GeometryType.LineString, srid=a.srid, coords=np.empty((0, 2)))
    # brute force over primitive pairs
    best = None
    best_d = math.inf
    pa = _vertex_set(a, None)
    from polars_st_spark.geo.predicates import _decompose

    da, db = _decompose(a), _decompose(b)

    def chains(d):
        out = [c[:, :2] for c in d.lines]
        for rings in d.polys:
            out.extend(_closed(r)[:, :2] for r in rings)
        for p in d.points:
            out.append(p.reshape(1, 2))
        return out

    for c1 in chains(da):
        for c2 in chains(db):
            for p in c1:
                q = _closest_on_chain(p, c2)
                d = math.hypot(p[0] - q[0], p[1] - q[1])
                if d < best_d:
                    best_d, best = d, (p.copy(), q)
            for p in c2:
                q = _closest_on_chain(p, c1)
                d = math.hypot(p[0] - q[0], p[1] - q[1])
                if d < best_d:
                    best_d, best = d, (q, p.copy())
    if best is None:
        return Geometry(GeometryType.LineString, srid=a.srid, coords=np.empty((0, 2)))
    return Geometry(GeometryType.LineString, srid=a.srid, coords=np.array([best[0], best[1]]))


def _closest_on_chain(p: np.ndarray, chain: np.ndarray) -> np.ndarray:
    if len(chain) == 1:
        return chain[0]
    ax, ay = chain[:-1, 0], chain[:-1, 1]
    bx, by = chain[1:, 0], chain[1:, 1]
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(ll > 0, ((p[0] - ax) * dx + (p[1] - ay) * dy) / np.where(ll == 0, 1, ll), 0.0)
    t = np.clip(t, 0, 1)
    cx, cy = ax + t * dx, ay + t * dy
    d = (p[0] - cx) ** 2 + (p[1] - cy) ** 2
    i = int(np.argmin(d))
    return np.array([cx[i], cy[i]])


def snap(g: Geometry, ref: Geometry, tolerance: float) -> Geometry:
    """Snap vertices of g to nearest vertex of ref within tolerance
    (reference: functions.rs:1779-1789)."""
    ref_pts = ref.all_coords()[:, :2]
    if len(ref_pts) == 0:
        return g

    def f(arr: np.ndarray) -> np.ndarray:
        out = arr.copy()
        for i in range(len(out)):
            d = np.sqrt((ref_pts[:, 0] - out[i, 0]) ** 2 + (ref_pts[:, 1] - out[i, 1]) ** 2)
            j = int(np.argmin(d))
            if d[j] <= tolerance:
                out[i, 0], out[i, 1] = ref_pts[j, 0], ref_pts[j, 1]
        return out

    return g.map_coords(f)


def minimum_rotated_rectangle(g: Geometry) -> Geometry:
    """Rotating-calipers minimum-area oriented envelope."""
    hull = convex_hull(g)
    if hull.type_id != GeometryType.Polygon:
        return hull
    ring = hull.rings[0][:-1]
    n = len(ring)
    best_area = math.inf
    best_rect = None
    for i in range(n):
        a, b = ring[i], ring[(i + 1) % n]
        ux, uy = b[0] - a[0], b[1] - a[1]
        norm = math.hypot(ux, uy)
        if norm == 0:
            continue
        ux, uy = ux / norm, uy / norm
        vx, vy = -uy, ux
        proj_u = ring[:, 0] * ux + ring[:, 1] * uy
        proj_v = ring[:, 0] * vx + ring[:, 1] * vy
        w = proj_u.max() - proj_u.min()
        h = proj_v.max() - proj_v.min()
        if w * h < best_area:
            best_area = w * h
            u0, u1 = proj_u.min(), proj_u.max()
            v0, v1 = proj_v.min(), proj_v.max()
            corners = [
                (u0 * ux + v0 * vx, u0 * uy + v0 * vy),
                (u1 * ux + v0 * vx, u1 * uy + v0 * vy),
                (u1 * ux + v1 * vx, u1 * uy + v1 * vy),
                (u0 * ux + v1 * vx, u0 * uy + v1 * vy),
            ]
            best_rect = np.array(corners + [corners[0]])
    if best_rect is None:
        return hull
    return Geometry(GeometryType.Polygon, srid=g.srid, rings=[best_rect])


# ----------------------------------------------------------------------
# Validity / ring checks
# ----------------------------------------------------------------------

def is_ccw(g: Geometry) -> bool:
    """False unless lineal coord-seq (reference: functions.rs:893-901)."""
    if g.type_id in _LINEAL_IDS and g.coords is not None and len(g.coords) >= 4:
        c = g.coords
        if c[0][0] == c[-1][0] and c[0][1] == c[-1][1]:
            return _ring_signed_area(c) > 0
    if g.type_id == GeometryType.Point and g.coords is not None:
        return False
    return False


def is_closed(g: Geometry) -> bool:
    """(reference: functions.rs:903-913)"""
    t = g.type_id
    if t in _LINEAL_IDS:
        c = g.coords
        if c is None or len(c) == 0:
            return False
        return bool(c[0][0] == c[-1][0] and c[0][1] == c[-1][1])
    if t == GeometryType.MultiLineString:
        return all(is_closed(s) for s in (g.geoms or []))
    if t == GeometryType.Point:
        return not g.is_empty()
    return False


def is_ring(g: Geometry) -> bool:
    return g.type_id in _LINEAL_IDS and is_closed(g) and is_simple(g)


def is_simple(g: Geometry) -> bool:
    """No self-intersection other than shared endpoints."""
    from polars_st_spark.geo.predicates import _seg_intersect_kind

    if g.type_id in _LINEAL_IDS:
        c = g.coords
        if c is None or len(c) < 2:
            return True
        n = len(c) - 1
        closed = c[0][0] == c[-1][0] and c[0][1] == c[-1][1]
        for i in range(n):
            for j in range(i + 1, n):
                kind = _seg_intersect_kind(c[i, :2], c[i + 1, :2], c[j, :2], c[j + 1, :2])
                if kind == 0:
                    continue
                adjacent = (j == i + 1) or (closed and i == 0 and j == n - 1)
                if kind == 1 and adjacent:
                    continue
                return False
        return True
    if g.geoms is not None:
        return all(is_simple(s) for s in g.geoms)
    return True


def is_valid(g: Geometry) -> bool:
    return is_valid_reason(g) == "Valid Geometry"


def is_valid_reason(g: Geometry) -> str:
    """Partial validity check: ring closure/size, ring self-intersection."""
    from polars_st_spark.geo.predicates import _seg_intersect_kind

    def check(t: Geometry) -> str | None:
        if t.type_id in _POLYGONAL_IDS and t.rings:
            for r in t.rings:
                rc = _closed(r)
                if len(rc) < 4:
                    return "Too few points in geometry component"
                n = len(rc) - 1
                for i in range(n):
                    for j in range(i + 1, n):
                        kind = _seg_intersect_kind(rc[i, :2], rc[i + 1, :2], rc[j, :2], rc[j + 1, :2])
                        if kind == 0:
                            continue
                        adjacent = (j == i + 1) or (i == 0 and j == n - 1)
                        if kind == 1 and adjacent:
                            continue
                        x = (rc[i, 0] + rc[i + 1, 0]) / 2
                        y = (rc[i, 1] + rc[i + 1, 1]) / 2
                        return f"Self-intersection[{x} {y}]"
        if t.geoms is not None:
            for s in t.geoms:
                r = check(s)
                if r:
                    return r
        return None

    return check(g) or "Valid Geometry"


def make_valid(g: Geometry) -> Geometry:
    """Resolve self-intersections via even-odd self-union
    (reference: functions.rs:1397-1399). Identity for valid inputs."""
    if is_valid(g):
        return g
    from polars_st_spark.geo.overlay import self_union

    return self_union(g)


def normalize_geom(g: Geometry) -> Geometry:
    """GEOS-style canonical form: exterior rings CW, holes CCW, ring start at
    lowest vertex, collection members sorted."""
    from polars_st_spark.geo.wkb import to_ewkb

    def norm_ring(r: np.ndarray, want_ccw: bool) -> np.ndarray:
        rc = _closed(r)
        body = rc[:-1]
        ccw = _ring_signed_area(rc) > 0
        if ccw != want_ccw:
            body = body[::-1]
        # rotate to start at lexicographically smallest vertex
        idx = np.lexsort((body[:, 1], body[:, 0]))[0]
        body = np.vstack([body[idx:], body[:idx]])
        return np.vstack([body, body[:1]])

    def f(t: Geometry) -> Geometry:
        if t.type_id in _POLYGONAL_IDS and t.rings:
            rings = [norm_ring(t.rings[0], want_ccw=False)]
            rings += [norm_ring(r, want_ccw=True) for r in t.rings[1:]]
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m, rings=rings)
        if t.geoms is not None:
            subs = [f(s) for s in t.geoms]
            subs.sort(key=lambda s: to_ewkb(s))
            return Geometry(t.type_id, srid=t.srid, has_z=t.has_z, has_m=t.has_m, geoms=subs)
        return t

    return f(g)


def multi(g: Geometry) -> Geometry:
    """Point→MultiPoint etc.; collections pass through (reference: functions.rs:779-792)."""
    t = g.type_id
    promote = {
        GeometryType.Point: GeometryType.MultiPoint,
        GeometryType.LineString: GeometryType.MultiLineString,
        GeometryType.Polygon: GeometryType.MultiPolygon,
        GeometryType.CircularString: GeometryType.MultiCurve,
    }
    if t in promote:
        return Geometry(promote[t], srid=g.srid, has_z=g.has_z, has_m=g.has_m, geoms=[g])
    return g


# ----------------------------------------------------------------------
# Buffer family — supported cases only (see SURVEY §7 hard parts)
# ----------------------------------------------------------------------

_CAP_STYLES = ("round", "flat", "square")
_JOIN_STYLES = ("round", "mitre", "bevel")


def buffer(
    g: Geometry,
    dist: float,
    quad_segs: int = 8,
    cap_style: str = "round",
    join_style: str = "round",
    mitre_limit: float = 5.0,
    single_sided: bool = False,
) -> Geometry:
    """Buffer with cap/join styles, erosion (negative distance), and
    single-sided line buffers (reference: src/functions.rs:1289-1300,
    src/args.rs:102-124).

    Exact fast paths: point (n-gon / square), axis-aligned rectangle
    (rounded / mitred / bevelled corners, erosion as exact shrink). General
    case: union of per-segment stroke rectangles + per-vertex join pieces +
    end caps via the overlay engine; erosion as the overlay difference with
    the dilated boundary.

    Mitre joins whose ratio exceeds ``mitre_limit`` are CLIPPED at the limit
    distance along the corner bisector (GEOS semantics — a perpendicular cut
    through both mitre edges), degenerating to a bevel only when the limit
    falls below the offset corner itself (L <= cos of the half-angle)."""
    if cap_style not in _CAP_STYLES:
        raise ValueError(f"cap_style must be one of {_CAP_STYLES}, got {cap_style!r}")
    if join_style not in _JOIN_STYLES:
        raise ValueError(f"join_style must be one of {_JOIN_STYLES}, got {join_style!r}")
    if g.is_empty():
        return Geometry(GeometryType.Polygon, srid=g.srid, rings=[])
    if single_sided:
        return _buffer_single_sided(g, dist, quad_segs, join_style, mitre_limit)
    if dist == 0:
        from polars_st_spark.geo.predicates import _decompose

        if _decompose(g).polys:
            return g
        return Geometry(GeometryType.Polygon, srid=g.srid, rings=[])
    if dist < 0:
        return _buffer_erode(g, -dist, quad_segs, join_style, mitre_limit)
    if cap_style == "round" and join_style == "round":
        from polars_st_spark.geo.curves import arc_buffer_exact

        exact = arc_buffer_exact(g, dist)
        if exact is not None:
            return exact
    t = g.type_id
    if t == GeometryType.Point:
        if cap_style == "flat":
            # GEOS: flat-capped point buffer is empty
            return Geometry(GeometryType.Polygon, srid=g.srid, rings=[])
        if cap_style == "square":
            x, y = float(g.coords[0]), float(g.coords[1])
            ring = np.array([
                [x - dist, y - dist], [x + dist, y - dist],
                [x + dist, y + dist], [x - dist, y + dist], [x - dist, y - dist],
            ])
            return Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring])
        n = max(4, 4 * quad_segs)
        ang = np.linspace(0, 2 * math.pi, n, endpoint=False)
        ring = np.column_stack(
            [g.coords[0] + dist * np.cos(ang), g.coords[1] + dist * np.sin(ang)]
        )
        ring = np.vstack([ring, ring[:1]])
        return Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring])
    if t == GeometryType.Polygon and _is_axis_rect(g):
        x0, y0, x1, y1 = g.bounds()
        if join_style == "mitre" and mitre_limit >= math.sqrt(2.0):
            # 90-degree mitre ratio is sqrt(2): expanded rect, exact
            ring = np.array([
                [x0 - dist, y0 - dist], [x1 + dist, y0 - dist],
                [x1 + dist, y1 + dist], [x0 - dist, y1 + dist], [x0 - dist, y0 - dist],
            ])
            return Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring])
        if join_style == "mitre":
            # clipped mitre at a 90-degree corner: cut parameter along each
            # mitre edge is t = L*sqrt(2) - 1 (from the general formula with
            # cos_half = sqrt(2)/2), clamped to [0, 1]; t=0 is the bevel
            # octagon, t=1 the full expanded rect (exact dodecagon between).
            tt = min(max(mitre_limit * math.sqrt(2.0) - 1.0, 0.0), 1.0)
            if tt > 1e-12:
                d, td = dist, tt * dist
                ring = np.array([
                    [x0, y0 - d], [x1, y0 - d],
                    [x1 + td, y0 - d], [x1 + d, y0 - td], [x1 + d, y0],
                    [x1 + d, y1],
                    [x1 + d, y1 + td], [x1 + td, y1 + d], [x1, y1 + d],
                    [x0, y1 + d],
                    [x0 - td, y1 + d], [x0 - d, y1 + td], [x0 - d, y1],
                    [x0 - d, y0],
                    [x0 - d, y0 - td], [x0 - td, y0 - d], [x0, y0 - d],
                ])
                return Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring])
        if join_style in ("bevel", "mitre"):
            # bevel (or fully-clipped mitre, mitre_limit <= sqrt(2)/2):
            # octagon with cut corners
            ring = np.array([
                [x0, y0 - dist], [x1, y0 - dist], [x1 + dist, y0], [x1 + dist, y1],
                [x1, y1 + dist], [x0, y1 + dist], [x0 - dist, y1], [x0 - dist, y0],
                [x0, y0 - dist],
            ])
            return Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring])
        pts = []
        corners = [(x1, y1), (x0, y1), (x0, y0), (x1, y0)]
        start_ang = [0.0, math.pi / 2, math.pi, 3 * math.pi / 2]
        for (cx, cy), a0 in zip(corners, start_ang):
            for k in range(quad_segs + 1):
                a = a0 + (math.pi / 2) * k / quad_segs
                pts.append((cx + dist * math.cos(a), cy + dist * math.sin(a)))
        ring = np.array(pts + [pts[0]])
        return Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring])
    # general case: Minkowski-style union of the areal input, per-segment
    # stroke rectangles, per-vertex join pieces, and end caps, merged with
    # the overlay engine.
    return _buffer_general(g, dist, quad_segs, cap_style, join_style, mitre_limit)


def _circle(cx: float, cy: float, r: float, n: int, srid: int) -> Geometry:
    ang = np.linspace(0, 2 * math.pi, max(8, n), endpoint=False)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return Geometry(GeometryType.Polygon, srid=srid, rings=[np.vstack([ring, ring[:1]])])


def _seg_dirs(c: np.ndarray) -> list[tuple[np.ndarray, np.ndarray, float]]:
    """(p, unit direction, length) per non-degenerate segment of a chain."""
    out = []
    for i in range(len(c) - 1):
        p, q = c[i], c[i + 1]
        ln = math.hypot(q[0] - p[0], q[1] - p[1])
        if ln < 1e-12:
            continue
        out.append((p, (q - p) / ln, ln))
    return out


def _stroke_rect(p, q, nx, ny, srid) -> Geometry:
    ring = np.array([
        [p[0] + nx, p[1] + ny], [q[0] + nx, q[1] + ny],
        [q[0] - nx, q[1] - ny], [p[0] - nx, p[1] - ny],
        [p[0] + nx, p[1] + ny],
    ])
    return Geometry(GeometryType.Polygon, srid=srid, rings=[ring])


def _join_pieces(v, u_in, u_out, dist: float, join_style: str, quad_segs: int,
                 mitre_limit: float, srid: int, sides=(1.0, -1.0)) -> list[Geometry]:
    """Pieces filling the wedge at vertex v between the offset edges of the
    incoming (unit dir u_in) and outgoing (u_out) segments. Round joins are
    whole circles on the two-sided path (simpler, same union); bevel joins are
    the corner triangles, mitre joins the corner quads (falling back to bevel
    above the limit)."""
    if join_style == "round" and sides == (1.0, -1.0):
        n = max(8, 4 * quad_segs)
        return [_circle(float(v[0]), float(v[1]), dist, n, srid)]
    n1 = np.array([-u_in[1], u_in[0]])
    n2 = np.array([-u_out[1], u_out[0]])
    pieces: list[Geometry] = []
    for side in sides:
        a = v + side * n1 * dist
        b = v + side * n2 * dist
        if np.hypot(*(a - b)) < 1e-12:
            continue
        if join_style == "round":
            pieces.append(_sector(v, a, b, dist, quad_segs, srid))
            continue
        use_mitre = False
        if join_style == "mitre":
            bis = side * (n1 + n2)
            nb = math.hypot(bis[0], bis[1])
            if nb > 1e-12:
                cos_half = nb / 2.0
                ratio = 1.0 / max(cos_half, 1e-12)
                m = v + bis / nb * (dist * ratio)
                if ratio <= mitre_limit:
                    ring = np.array([v, a, m, b, v])
                    pieces.append(Geometry(GeometryType.Polygon, srid=srid, rings=[ring]))
                    use_mitre = True
                else:
                    # GEOS semantics: the spike is CLIPPED at mitre_limit*dist
                    # along the bisector (perpendicular cut through both mitre
                    # edges), not replaced by a bevel. Along edge a->m the
                    # bisector-distance runs dist*cos_half -> dist*ratio, so
                    # the cut parameter is t = c(L - c) / (1 - c^2).
                    c = cos_half
                    s2 = max(1.0 - c * c, 1e-12)
                    tcut = c * (mitre_limit - c) / s2
                    if tcut > 1e-9:
                        tcut = min(tcut, 1.0)
                        m1 = a + tcut * (m - a)
                        m2 = b + tcut * (m - b)
                        ring = np.array([v, a, m1, m2, b, v])
                        pieces.append(
                            Geometry(GeometryType.Polygon, srid=srid, rings=[ring])
                        )
                        use_mitre = True
        if not use_mitre:
            ring = np.array([v, a, b, v])
            pieces.append(Geometry(GeometryType.Polygon, srid=srid, rings=[ring]))
    return pieces


def _sector(v, a, b, dist: float, quad_segs: int, srid: int) -> Geometry:
    """Circular wedge at v from offset point a to b (short way around)."""
    a0 = math.atan2(a[1] - v[1], a[0] - v[0])
    a1 = math.atan2(b[1] - v[1], b[0] - v[0])
    sweep = a1 - a0
    while sweep > math.pi:
        sweep -= 2 * math.pi
    while sweep < -math.pi:
        sweep += 2 * math.pi
    n = max(2, int(math.ceil(abs(sweep) / (2 * math.pi) * max(8, 4 * quad_segs))))
    ang = a0 + sweep * np.linspace(0.0, 1.0, n + 1)
    arc = np.column_stack([v[0] + dist * np.cos(ang), v[1] + dist * np.sin(ang)])
    ring = np.vstack([[v], arc, [v]])
    return Geometry(GeometryType.Polygon, srid=srid, rings=[ring])


def _cap_pieces(p, u_out, dist: float, cap_style: str, quad_segs: int, srid: int) -> list[Geometry]:
    """End cap at endpoint p, with u_out the unit direction pointing AWAY
    from the chain."""
    if cap_style == "flat":
        return []
    if cap_style == "square":
        nl = np.array([-u_out[1], u_out[0]]) * dist
        e = np.asarray(p) + np.asarray(u_out) * dist
        ring = np.array([p + nl, e + nl, e - nl, p - nl, p + nl])
        return [Geometry(GeometryType.Polygon, srid=srid, rings=[ring])]
    return [_circle(float(p[0]), float(p[1]), dist, max(8, 4 * quad_segs), srid)]


def _union_pieces(pieces: list[Geometry], srid: int) -> Geometry:
    from polars_st_spark.geo.overlay import union_many

    if not pieces:
        return Geometry(GeometryType.Polygon, srid=srid, rings=[])
    return union_many(pieces, srid)


def _buffer_general(g: Geometry, dist: float, quad_segs: int,
                    cap_style: str = "round", join_style: str = "round",
                    mitre_limit: float = 5.0) -> Geometry:
    from polars_st_spark.geo.predicates import _decompose

    d = _decompose(g)
    pieces: list[Geometry] = []
    if d.polys:
        for rings in d.polys:
            pieces.append(Geometry(GeometryType.Polygon, srid=g.srid,
                                   rings=[np.asarray(r)[:, :2] for r in rings]))
    chains: list[tuple[np.ndarray, bool]] = [(np.asarray(c)[:, :2], False) for c in d.lines]
    for rings in d.polys:
        chains.extend((_closed(np.asarray(r)[:, :2]), True) for r in rings)
    for c, closed in chains:
        segs = _seg_dirs(c)
        if not segs:
            continue
        for p, u, ln in segs:
            nx, ny = -u[1] * dist, u[0] * dist
            pieces.append(_stroke_rect(p, p + u * ln, nx, ny, g.srid))
        # joins at interior vertices (and the wrap vertex of closed rings)
        for i in range(1, len(segs)):
            v = segs[i][0]
            pieces.extend(_join_pieces(v, segs[i - 1][1], segs[i][1], dist,
                                       join_style, quad_segs, mitre_limit, g.srid))
        if closed:
            v = segs[0][0]
            pieces.extend(_join_pieces(v, segs[-1][1], segs[0][1], dist,
                                       join_style, quad_segs, mitre_limit, g.srid))
        else:
            first_p, first_u, _ = segs[0]
            last_p, last_u, last_ln = segs[-1]
            pieces.extend(_cap_pieces(first_p, -first_u, dist, cap_style, quad_segs, g.srid))
            pieces.extend(_cap_pieces(last_p + last_u * last_ln, last_u, dist,
                                      cap_style, quad_segs, g.srid))
    for p in d.points:
        if cap_style == "square":
            x, y = float(p[0]), float(p[1])
            ring = np.array([[x - dist, y - dist], [x + dist, y - dist],
                             [x + dist, y + dist], [x - dist, y + dist], [x - dist, y - dist]])
            pieces.append(Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring]))
        elif cap_style == "round":
            pieces.append(_circle(float(p[0]), float(p[1]), dist, max(8, 4 * quad_segs), g.srid))
        # flat: a point has no extent to cap — contributes nothing
    return _union_pieces(pieces, g.srid)


def _buffer_erode(g: Geometry, dist: float, quad_segs: int,
                  join_style: str, mitre_limit: float) -> Geometry:
    """Erosion: the polygon minus its boundary dilated by ``dist`` (the
    inward-offset overlay difference). Non-areal inputs erode to empty."""
    from polars_st_spark.geo.overlay import overlay
    from polars_st_spark.geo.predicates import _decompose

    if g.type_id == GeometryType.Polygon and _is_axis_rect(g):
        x0, y0, x1, y1 = g.bounds()
        if x1 - x0 <= 2 * dist or y1 - y0 <= 2 * dist:
            return Geometry(GeometryType.Polygon, srid=g.srid, rings=[])
        ring = np.array([
            [x0 + dist, y0 + dist], [x1 - dist, y0 + dist],
            [x1 - dist, y1 - dist], [x0 + dist, y1 - dist], [x0 + dist, y0 + dist],
        ])
        return Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring])
    d = _decompose(g)
    if not d.polys:
        return Geometry(GeometryType.Polygon, srid=g.srid, rings=[])
    area_part = _union_pieces(
        [Geometry(GeometryType.Polygon, srid=g.srid,
                  rings=[np.asarray(r)[:, :2] for r in rings]) for rings in d.polys],
        g.srid)
    boundary_chains = Geometry(
        GeometryType.MultiLineString, srid=g.srid,
        geoms=[Geometry(GeometryType.LineString, srid=g.srid,
                        coords=_closed(np.asarray(r)[:, :2]))
               for rings in d.polys for r in rings])
    band = _buffer_general(boundary_chains, dist, quad_segs, "round", join_style, mitre_limit)
    return overlay(area_part, band, "difference")


def _buffer_single_sided(g: Geometry, dist: float, quad_segs: int,
                         join_style: str, mitre_limit: float) -> Geometry:
    """Single-sided line buffer: the strip between the line and its offset at
    |dist| on the left (dist > 0) or right (dist < 0) side; flat ends (GEOS
    semantics). Only lineal inputs are supported."""
    from polars_st_spark.geo.predicates import _decompose

    if dist == 0:
        return Geometry(GeometryType.Polygon, srid=g.srid, rings=[])
    d = _decompose(g)
    if d.polys or d.points or not d.lines:
        raise NotImplementedError("single_sided buffer supports lineal geometries only")
    side = 1.0 if dist > 0 else -1.0
    ad = abs(dist)
    pieces: list[Geometry] = []
    for chain in d.lines:
        c = np.asarray(chain)[:, :2]
        segs = _seg_dirs(c)
        if not segs:
            continue
        for p, u, ln in segs:
            nl = np.array([-u[1], u[0]]) * side * ad
            q = p + u * ln
            ring = np.array([p, q, q + nl, p + nl, p])
            pieces.append(Geometry(GeometryType.Polygon, srid=g.srid, rings=[ring]))
        for i in range(1, len(segs)):
            v = segs[i][0]
            pieces.extend(_join_pieces(v, segs[i - 1][1], segs[i][1], ad,
                                       join_style, quad_segs, mitre_limit, g.srid,
                                       sides=(side,)))
    return _union_pieces(pieces, g.srid)


def _is_axis_rect(g: Geometry) -> bool:
    if g.type_id != GeometryType.Polygon or not g.rings or len(g.rings) != 1:
        return False
    r = _closed(g.rings[0])
    if len(r) != 5:
        return False
    xs = set(round(float(v), 12) for v in r[:4, 0])
    ys = set(round(float(v), 12) for v in r[:4, 1])
    return len(xs) == 2 and len(ys) == 2


def offset_curve(g: Geometry, dist: float, quad_segs: int = 8, join_style: str = "round", mitre_limit: float = 5.0) -> Geometry:
    """Parallel offset: per-segment offsets joined per ``join_style`` on
    outside turns (round = arc, mitre = limited miter, bevel = straight
    corner) and line-intersection trimming on inside turns (reference:
    functions.rs:1302-1317; GEOS OffsetCurve semantics). Positive distance =
    left of the line direction. Every chain of a MultiLineString is offset
    (r4b); r4c: the raw curve is noded against itself and collapse loops —
    self-intersection loops that dive closer to the source line than the
    offset distance — are excised (the GEOS post-pass); valid self-touching
    lobes that stay at ≥ dist are kept."""
    chains = list(_iter_chains(g))
    if not chains or dist == 0:
        if chains and dist == 0:
            parts = [Geometry(GeometryType.LineString, srid=g.srid, coords=ch[:, :2].copy())
                     for ch in chains]
            return parts[0] if len(parts) == 1 else Geometry(
                GeometryType.MultiLineString, srid=g.srid, geoms=parts)
        return Geometry(GeometryType.LineString, srid=g.srid, coords=np.empty((0, 2)))
    parts = [
        _remove_offset_loops(
            _offset_chain(ch[:, :2], dist, quad_segs, join_style, mitre_limit),
            ch[:, :2], dist)
        for ch in chains
    ]
    parts = [c for c in parts if len(c)]
    if not parts:
        return Geometry(GeometryType.LineString, srid=g.srid, coords=np.empty((0, 2)))
    if len(parts) == 1:
        return Geometry(GeometryType.LineString, srid=g.srid, coords=parts[0])
    return Geometry(
        GeometryType.MultiLineString, srid=g.srid,
        geoms=[Geometry(GeometryType.LineString, srid=g.srid, coords=c) for c in parts],
    )


def _offset_chain(c: np.ndarray, dist: float, quad_segs: int, join_style: str,
                  mitre_limit: float) -> np.ndarray:
    # collapse repeated points
    keep = [0] + [i for i in range(1, len(c)) if not np.allclose(c[i], c[i - 1])]
    c = c[keep]
    if len(c) < 2:
        return np.empty((0, 2))
    # per-segment left normals and offset endpoints
    segs = []
    for i in range(len(c) - 1):
        d = c[i + 1] - c[i]
        ln = math.hypot(d[0], d[1])
        n = np.array([-d[1] / ln, d[0] / ln])
        segs.append((c[i] + dist * n, c[i + 1] + dist * n, d / ln))
    out = [segs[0][0]]
    for i in range(len(segs) - 1):
        b_prev = segs[i][1]
        a_next = segs[i + 1][0]
        v = c[i + 1]
        z = segs[i][2][0] * segs[i + 1][2][1] - segs[i][2][1] * segs[i + 1][2][0]
        outside = (dist > 0 and z < 0) or (dist < 0 and z > 0)
        if np.allclose(b_prev, a_next):
            out.append(b_prev)
        elif outside and join_style == "bevel":
            out.append(b_prev)
            out.append(a_next)
        elif outside and join_style == "round":
            # arc around the vertex from b_prev to a_next
            a0 = math.atan2(b_prev[1] - v[1], b_prev[0] - v[0])
            a1 = math.atan2(a_next[1] - v[1], a_next[0] - v[0])
            sweep = a1 - a0
            if dist > 0:
                while sweep > 0:
                    sweep -= 2 * math.pi
            else:
                while sweep < 0:
                    sweep += 2 * math.pi
            n_arc = max(1, int(abs(sweep) / (math.pi / 2) * quad_segs))
            r = abs(dist)
            for k in range(n_arc + 1):
                a = a0 + sweep * k / n_arc
                out.append(v + np.array([r * math.cos(a), r * math.sin(a)]))
        else:
            # inside turn (or non-round join): miter via offset-line intersection
            p1, p2, d1 = segs[i][0], segs[i][1], segs[i][2]
            p3, p4, d2 = segs[i + 1][0], segs[i + 1][1], segs[i + 1][2]
            den = d1[0] * d2[1] - d1[1] * d2[0]
            if abs(den) < 1e-12:
                out.append(b_prev)
            else:
                t = ((p3[0] - p1[0]) * d2[1] - (p3[1] - p1[1]) * d2[0]) / den
                m = p1 + t * d1
                if math.hypot(m[0] - v[0], m[1] - v[1]) <= mitre_limit * abs(dist):
                    out.append(m)
                else:
                    out.append(b_prev)
                    out.append(a_next)
    out.append(segs[-1][1])
    # dedupe consecutive
    final = [out[0]]
    for p in out[1:]:
        if not np.allclose(p, final[-1]):
            final.append(p)
    return np.array(final)


def _remove_offset_loops(curve: np.ndarray, src: np.ndarray, dist: float) -> np.ndarray:
    """GEOS-style offset post-pass: node the raw offset polyline at its
    self-intersections and excise collapse loops.

    When the offset distance exceeds the local feature size, non-adjacent
    offset segments cross and the curve doubles back in a loop that dives
    closer to the source line than ``|dist|`` — GEOS discards those portions.
    A loop is excised only when its closest approach to the source is below
    ``|dist| · (1 - 1e-6)``; legitimately self-touching lobes (which stay at
    the offset distance) are preserved, as are all join chords (bevel/round
    chord midpoints sit slightly inside ``dist`` but are never part of a
    crossing loop, so the distance test never sees them)."""
    from polars_st_spark.geo.predicates import _seg_intersect_kind, _seg_param

    n = len(curve) - 1
    if n < 3:
        return curve
    # proper crossings between non-adjacent segments: (param_i, param_j,
    # point) — vectorized over the i<j-1 pair product (bbox-pruned; a
    # proper crossing point lies in both segments' closed boxes, so the
    # prune is exact), reproducing the scalar formulas elementwise
    from polars_st_spark.geo.predicates import _EPS

    crossings = []
    SA = curve[:-1]
    SB = curve[1:]
    bbx0 = np.minimum(SA[:, 0], SB[:, 0])
    bbx1 = np.maximum(SA[:, 0], SB[:, 0])
    bby0 = np.minimum(SA[:, 1], SB[:, 1])
    bby1 = np.maximum(SA[:, 1], SB[:, 1])
    CH = 1 << 21
    total = n * n
    for lo in range(0, total, CH):
        hi = min(lo + CH, total)
        idx = np.arange(lo, hi, dtype=np.int64)
        ii = idx // n
        jj = idx - ii * n
        sel = (
            (jj >= ii + 2)
            & (bbx0[ii] <= bbx1[jj]) & (bbx0[jj] <= bbx1[ii])
            & (bby0[ii] <= bby1[jj]) & (bby0[jj] <= bby1[ii])
        )
        m = np.nonzero(sel)[0]
        if not len(m):
            continue
        ii = ii[m]
        jj = jj[m]
        ax, ay = SA[ii, 0], SA[ii, 1]
        bx, by = SB[ii, 0], SB[ii, 1]
        cx, cy = SA[jj, 0], SA[jj, 1]
        ex, ey = SB[jj, 0], SB[jj, 1]
        # _seg_intersect_kind proper test, elementwise
        d1 = (ex - cx) * (ay - cy) - (ey - cy) * (ax - cx)
        d2 = (ex - cx) * (by - cy) - (ey - cy) * (bx - cx)
        d3 = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        d4 = (bx - ax) * (ey - ay) - (by - ay) * (ex - ax)
        tol = _EPS * (
            np.maximum(np.maximum(np.abs(ex - cx), np.abs(ey - cy)), 1.0)
            * np.maximum(np.maximum(np.abs(bx - ax), np.abs(by - ay)), 1.0)
        )
        proper = (
            ((d1 > tol) & (d2 < -tol)) | ((d1 < -tol) & (d2 > tol))
        ) & (((d3 > tol) & (d4 < -tol)) | ((d3 < -tol) & (d4 > tol)))
        pm = np.nonzero(proper)[0]
        if not len(pm):
            continue
        ii, jj = ii[pm], jj[pm]
        ax, ay, bx, by = ax[pm], ay[pm], bx[pm], by[pm]
        cx, cy, ex, ey = cx[pm], cy[pm], ex[pm], ey[pm]
        den = (bx - ax) * (ey - cy) - (by - ay) * (ex - cx)
        ok = den != 0
        t = np.where(ok, ((cx - ax) * (ey - cy) - (cy - ay) * (ex - cx))
                     / np.where(ok, den, 1.0), 0.0)
        ok &= (t > 0.0) & (t < 1.0)
        px_ = ax + t * (bx - ax)
        py_ = ay + t * (by - ay)
        # scalar _seg_param dominant-axis formula
        dx2, dy2 = ex - cx, ey - cy
        use_x = np.abs(dx2) >= np.abs(dy2)
        den2 = np.where(use_x, dx2, dy2)
        num2 = np.where(use_x, px_ - cx, py_ - cy)
        u = np.where(den2 != 0, num2 / np.where(den2 != 0, den2, 1.0), 0.0)
        ok &= (u > 0.0) & (u < 1.0)
        km = np.nonzero(ok)[0]
        for k in km:
            crossings.append((float(ii[k] + t[k]), float(jj[k] + u[k]),
                              np.array([px_[k], py_[k]])))
    if not crossings:
        return curve
    # noded point walk: original vertices at integer params, crossing points
    # (shared coords, twice each) at fractional params, in curve order
    events = []  # (param, crossing_id or None, point)
    for k in range(len(curve)):
        events.append((float(k), None, curve[k]))
    for cid, (t1, t2, p) in enumerate(crossings):
        events.append((t1, cid, p))
        events.append((t2, cid, p))
    events.sort(key=lambda e: e[0])
    thresh = abs(dist) * (1.0 - 1e-6)
    out: list = []          # (crossing_id, point)
    open_at: dict = {}      # crossing_id -> index in out of its first visit
    for _param, cid, p in events:
        if cid is not None and cid in open_at:
            k = open_at[cid]
            loop_pts = np.array([q for _c, q in out[k:]] + [p])
            # closest approach of the candidate loop to the source line
            # (midpoints + vertices, one broadcast batch)
            mids = (loop_pts[:-1] + loop_pts[1:]) / 2.0
            probe = np.vstack([mids, loop_pts])
            if len(src) == 1:
                dmin = float(np.hypot(probe[:, 0] - src[0, 0],
                                      probe[:, 1] - src[0, 1]).min())
            else:
                dmin = float(_seg_dist_point(
                    probe[:, 0][:, None], probe[:, 1][:, None],
                    src[:-1, 0][None, :], src[:-1, 1][None, :],
                    src[1:, 0][None, :], src[1:, 1][None, :]).min())
            if dmin < thresh:
                # collapse loop: cut back to the crossing point (kept once)
                del out[k + 1:]
                # crossings opened inside the loop can never close now
                open_at = {c: i for c, i in open_at.items() if i <= k}
                continue
        if cid is not None and cid not in open_at:
            open_at[cid] = len(out)
        out.append((cid, p))
    final = [out[0][1]]
    for _c, p in out[1:]:
        if not np.allclose(p, final[-1]):
            final.append(p)
    if len(final) < 2:
        return np.empty((0, 2))
    return np.array(final)


def total_bounds_merge(bounds_list) -> list[float]:
    """Combine per-row bounds into [min x0, min y0, max x1, max y1]."""
    arr = np.asarray([b for b in bounds_list if b is not None and b[0] == b[0]], dtype=np.float64)
    if len(arr) == 0:
        return [_NAN, _NAN, _NAN, _NAN]
    return [
        float(arr[:, 0].min()),
        float(arr[:, 1].min()),
        float(arr[:, 2].max()),
        float(arr[:, 3].max()),
    ]
