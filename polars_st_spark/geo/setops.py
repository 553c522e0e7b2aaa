"""Overlay / set operations.

Implements the reference's binary and n-ary set ops
(reference: src/functions.rs:1096-1276, src/expressions.rs:873-999) for the
geometry classes the engine supports exactly today:

Fast paths, tried in order:
- point / multipoint vs anything (membership)
- line vs rectilinear region (clipping)
- polygon vs CONVEX polygon (Sutherland–Hodgman)
- arbitrary rectilinear polygons incl. holes (exact slab algebra,
  geo/rectregion.py)
- disjoint inputs (collection assembly)

General concave areal×areal combinations fall through to the
classify-and-stitch overlay (geo/overlay.py) — supported for all four ops.
Line ∩/− arbitrary (concave / holed) polygons route through
_line_clip_polygon/_line_minus_polygon, line−line is noded at mutual
crossings, and mixed-dimension unions assemble collections. The remaining
NotImplementedError cases are curved-type exotics (CircularString /
CurvePolygon operands beyond the exact single-arc paths), documented per
call site.
"""

from __future__ import annotations

import math

import numpy as np

from polars_st_spark.geo.algos import _closed, _ring_signed_area, area as _area
from polars_st_spark.geo.predicates import (
    _decompose,
    contains,
    covers,
    equals,
    interiors_intersect,
    intersects,
    point_in_polygon,
    touches,
)
from polars_st_spark.geo.rectregion import (
    RectRegion,
    geometry_to_region,
    region_to_geometry,
)
from polars_st_spark.geo.types import (
    _LINEAL_IDS,
    _POLYGONAL_IDS,
    Geometry,
    GeometryType,
    empty_collection,
)

__all__ = [
    "clip_by_rect",
    "intersection",
    "union",
    "difference",
    "symmetric_difference",
    "union_all",
    "intersection_all",
    "difference_all",
    "symmetric_difference_all",
    "collect",
    "unary_union",
    "rectangles_union",
]


def _is_convex_polygon(g: Geometry) -> bool:
    if g.type_id != GeometryType.Polygon or not g.rings or len(g.rings) != 1:
        return False
    r = _closed(g.rings[0])[:-1]
    n = len(r)
    if n < 3:
        return False
    sign = 0
    for i in range(n):
        o, a, b = r[i], r[(i + 1) % n], r[(i + 2) % n]
        cr = (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])
        if abs(cr) < 1e-15:
            continue
        s = 1 if cr > 0 else -1
        if sign == 0:
            sign = s
        elif s != sign:
            return False
    return True


def _axis_rect(g: Geometry) -> tuple[float, float, float, float] | None:
    from polars_st_spark.geo.algos import _is_axis_rect

    if _is_axis_rect(g):
        return g.bounds()
    return None


def _mk_rect(x0: float, y0: float, x1: float, y1: float, srid: int = 0) -> Geometry:
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
    return Geometry(GeometryType.Polygon, srid=srid, rings=[ring])


def _mk_empty_poly(srid: int) -> Geometry:
    return Geometry(GeometryType.Polygon, srid=srid, rings=[])


# ----------------------------------------------------------------------
# clip_by_rect (reference: functions.rs:1337-1348)
# ----------------------------------------------------------------------

def clip_by_rect(g: Geometry, x0: float, y0: float, x1: float, y1: float) -> Geometry:
    t = g.type_id
    srid = g.srid
    if g.is_empty():
        return Geometry(GeometryType.GeometryCollection, srid=srid, geoms=[])
    if t == GeometryType.Point:
        x, y = g.coords[0], g.coords[1]
        if x0 <= x <= x1 and y0 <= y <= y1:
            return g
        return Geometry(GeometryType.Point, srid=srid, coords=None)
    if t in _LINEAL_IDS:
        parts = _clip_chain(g.coords[:, :2], x0, y0, x1, y1)
        return _lines_result(parts, srid)
    if t in _POLYGONAL_IDS:
        rings = _sh_clip_rings(g.rings, [(x0, y0, x1, y1)])
        if not rings:
            return _mk_empty_poly(srid)
        return Geometry(GeometryType.Polygon, srid=srid, rings=rings)
    if g.geoms is not None:
        clipped = [clip_by_rect(s, x0, y0, x1, y1) for s in g.geoms]
        clipped = [c for c in clipped if not c.is_empty()]
        if not clipped:
            return Geometry(GeometryType.GeometryCollection, srid=srid, geoms=[])
        if len(clipped) == 1:
            return clipped[0]
        return collect(clipped, srid=srid)
    raise NotImplementedError(f"clip_by_rect for {g.type_name}")


def _clip_chain(c: np.ndarray, x0, y0, x1, y1) -> list[np.ndarray]:
    """Liang–Barsky per segment; consecutive kept pieces merged into chains."""
    parts: list[list[np.ndarray]] = []
    cur: list[np.ndarray] = []
    for i in range(len(c) - 1):
        p, q = c[i], c[i + 1]
        seg = _clip_segment(p, q, x0, y0, x1, y1)
        if seg is None:
            if len(cur) >= 2:
                parts.append(cur)
            cur = []
            continue
        a, b = seg
        if cur and np.allclose(cur[-1], a):
            cur.append(b)
        else:
            if len(cur) >= 2:
                parts.append(cur)
            cur = [a, b]
    if len(cur) >= 2:
        parts.append(cur)
    return [np.asarray(p) for p in parts]


def _clip_segment(p, q, x0, y0, x1, y1):
    t0, t1 = 0.0, 1.0
    dx, dy = q[0] - p[0], q[1] - p[1]
    for pi, qi in ((-dx, p[0] - x0), (dx, x1 - p[0]), (-dy, p[1] - y0), (dy, y1 - p[1])):
        if pi == 0:
            if qi < 0:
                return None
            continue
        r = qi / pi
        if pi < 0:
            if r > t1:
                return None
            t0 = max(t0, r)
        else:
            if r < t0:
                return None
            t1 = min(t1, r)
    if t0 > t1:
        return None
    a = np.array([p[0] + t0 * dx, p[1] + t0 * dy])
    b = np.array([p[0] + t1 * dx, p[1] + t1 * dy])
    if np.allclose(a, b):
        return None
    return a, b


def _lines_result(parts: list[np.ndarray], srid: int) -> Geometry:
    if not parts:
        return Geometry(GeometryType.LineString, srid=srid, coords=np.empty((0, 2)))
    if len(parts) == 1:
        return Geometry(GeometryType.LineString, srid=srid, coords=parts[0])
    return Geometry(
        GeometryType.MultiLineString,
        srid=srid,
        geoms=[Geometry(GeometryType.LineString, srid=srid, coords=p) for p in parts],
    )


def _sh_clip_ring_halfplane(ring: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman step: keep points left of directed edge a→b."""
    out: list[np.ndarray] = []
    n = len(ring)
    for i in range(n):
        cur = ring[i]
        prev = ring[i - 1]
        cur_in = (b[0] - a[0]) * (cur[1] - a[1]) - (b[1] - a[1]) * (cur[0] - a[0]) >= -1e-12
        prev_in = (b[0] - a[0]) * (prev[1] - a[1]) - (b[1] - a[1]) * (prev[0] - a[0]) >= -1e-12
        if cur_in:
            if not prev_in:
                out.append(_edge_intersect(prev, cur, a, b))
            out.append(cur)
        elif prev_in:
            out.append(_edge_intersect(prev, cur, a, b))
    return np.asarray(out) if out else np.empty((0, 2))


def _edge_intersect(p, q, a, b) -> np.ndarray:
    x1, y1, x2, y2 = p[0], p[1], q[0], q[1]
    x3, y3, x4, y4 = a[0], a[1], b[0], b[1]
    den = (x1 - x2) * (y3 - y4) - (y1 - y2) * (x3 - x4)
    if den == 0:
        return np.array([x2, y2])
    t = ((x1 - x3) * (y3 - y4) - (y1 - y3) * (x3 - x4)) / den
    return np.array([x1 + t * (x2 - x1), y1 + t * (y2 - y1)])


def _convex_clip_edges(clip: Geometry):
    """CCW-oriented edges of a convex polygon."""
    r = _closed(clip.rings[0])
    if _ring_signed_area(r) < 0:
        r = r[::-1]
    for i in range(len(r) - 1):
        yield r[i][:2], r[i + 1][:2]


def _sh_clip_rings(rings: list[np.ndarray], rects) -> list[np.ndarray]:
    """Clip polygon rings by rectangle(s). Holes are clipped too; degenerate
    results dropped."""
    out = []
    for k, r in enumerate(rings):
        ring = _closed(np.asarray(r)[:, :2])[:-1]
        for (x0, y0, x1, y1) in rects:
            for a, b in (
                ((x0, y0), (x1, y0)),
                ((x1, y0), (x1, y1)),
                ((x1, y1), (x0, y1)),
                ((x0, y1), (x0, y0)),
            ):
                ring = _sh_clip_ring_halfplane(ring, np.asarray(a, dtype=float), np.asarray(b, dtype=float))
                if len(ring) == 0:
                    break
        if len(ring) >= 3:
            closed = np.vstack([ring, ring[:1]])
            if abs(_ring_signed_area(closed)) > 1e-24:
                out.append(closed)
        elif k == 0:
            return []  # exterior vanished → empty polygon
    return out


def _sh_clip_polygon_convex(subj: Geometry, clip: Geometry) -> Geometry:
    rings = []
    for k, r in enumerate(subj.rings):
        ring = _closed(np.asarray(r)[:, :2])[:-1]
        for a, b in _convex_clip_edges(clip):
            ring = _sh_clip_ring_halfplane(ring, a, b)
            if len(ring) == 0:
                break
        if len(ring) >= 3:
            closed = np.vstack([ring, ring[:1]])
            if abs(_ring_signed_area(closed)) > 1e-24:
                rings.append(closed)
        elif k == 0:
            return _mk_empty_poly(subj.srid)
    if not rings:
        return _mk_empty_poly(subj.srid)
    return Geometry(GeometryType.Polygon, srid=subj.srid, rings=rings)


# ----------------------------------------------------------------------
# Binary ops (reference: functions.rs:1096-1192)
# ----------------------------------------------------------------------

def intersection(a: Geometry, b: Geometry, grid_size: float | None = None) -> Geometry:
    srid = a.srid
    if a.is_empty() or b.is_empty() or not intersects(a, b):
        return _empty_like_overlay(a, b)
    res = _intersection_impl(a, b)
    if grid_size:
        res = _snap_to_grid(res, grid_size)
    return res.with_srid(srid)


def _empty_like_overlay(a: Geometry, b: Geometry) -> Geometry:
    # GEOS returns an empty geometry of the lower input dimension
    dim = min(a.dimensions(), b.dimensions())
    t = {0: GeometryType.Point, 1: GeometryType.LineString, 2: GeometryType.Polygon}.get(
        dim, GeometryType.GeometryCollection
    )
    if t == GeometryType.Point:
        return Geometry(t, srid=a.srid, coords=None)
    if t == GeometryType.LineString:
        return Geometry(t, srid=a.srid, coords=np.empty((0, 2)))
    if t == GeometryType.Polygon:
        return Geometry(t, srid=a.srid, rings=[])
    return empty_collection(a.srid)


# Multi/collection containers whose geoms are PARTS. CurvePolygon (geoms =
# rings) and CompoundCurve (geoms = chained curve pieces) are structural
# primitives — flattening a CurvePolygon into its rings turned curved
# areal overlays into boundary ops (r11 fix, the MultiPoint-for-lens bug).
_PART_CONTAINER_IDS = (
    GeometryType.MultiPoint,
    GeometryType.MultiLineString,
    GeometryType.MultiPolygon,
    GeometryType.MultiCurve,
    GeometryType.MultiSurface,
    GeometryType.GeometryCollection,
)


def _flatten_parts(g: Geometry) -> list[Geometry]:
    """Primitive (Point/LineString/Polygon/CircularString/CompoundCurve/
    CurvePolygon) parts of any geometry."""
    if g.geoms is not None and g.type_id in _PART_CONTAINER_IDS:
        out: list[Geometry] = []
        for s in g.geoms:
            out.extend(_flatten_parts(s if s.srid else s.with_srid(g.srid)))
        return out
    return [g] if not g.is_empty() else []


def _is_part_container(g: Geometry) -> bool:
    return g.geoms is not None and g.type_id in _PART_CONTAINER_IDS


def _curved_overlay_or_linearized(a: Geometry, b: Geometry, op: str) -> Geometry:
    """Route a curved areal×areal pair: the EXACT piece-tracing overlay
    (geo/curves.curved_areal_overlay) when the pair is in its envelope,
    else the linearized approximation (GEOS-style for exotics)."""
    from polars_st_spark.geo.curves import curved_areal_overlay, linearize

    res = curved_areal_overlay(a, b, op)
    if res is not None:
        return res
    la, lb = linearize(a), linearize(b)
    if op == "intersection":
        return _intersection_impl(la, lb)
    if op == "union":
        return union(la, lb)
    return difference(la, lb)


def _intersection_impl(a: Geometry, b: Geometry) -> Geometry:
    # rectilinear ∩ rectilinear → exact region algebra
    if a.dimensions() == 2 and b.dimensions() == 2:
        reg_a, reg_b = geometry_to_region(a), geometry_to_region(b)
        if reg_a is not None and reg_b is not None:
            res = reg_a.intersect(reg_b)
            if not res.is_empty():
                return region_to_geometry(res, a.srid)
            # fall through for degenerate (touching) cases
    # r11: curved areal×areal — exact piece-tracing overlay (or linearized
    # outside its envelope); must run BEFORE collection flattening
    if (a.dimensions() == 2 and b.dimensions() == 2
            and not _is_part_container(a) and not _is_part_container(b)):
        from polars_st_spark.geo.curves import _is_curved

        if _is_curved(a) or _is_curved(b):
            return _curved_overlay_or_linearized(a, b, "intersection")
    # r10: curved 1-D x 1-D inputs are intersected WHOLE (not per
    # collection part) so 1-D overlap stretches suppress their interior
    # touch points across parts — _curve_primitives flattens Compound/
    # Multi/GC members itself
    if a.dimensions() == 1 and b.dimensions() == 1:
        from polars_st_spark.geo.curves import (
            _is_curved,
            curve_curve_intersection_mixed,
        )

        if _is_curved(a) or _is_curved(b):
            # r9 (VERDICT r8 #4, noding half): arc x line / arc x arc
            # intersection POINTS are closed-form carrier intersections —
            # exact, no linearization. r10 (VERDICT r9 item 4): 1-D overlap
            # components are exact too — collinear seg stretches as
            # LineStrings, co-circular arc stretches as CircularStrings
            # with closed-form angular endpoints on the shared carrier;
            # mixed results follow the GEOS convention
            # (GEOMETRYCOLLECTION of curves + isolated points).
            res = curve_curve_intersection_mixed(a, b)
            if res is not None:
                import math as _m

                pts, stretches = res
                parts: list[Geometry] = []
                for s in stretches:
                    if s[0] == "seg":
                        parts.append(Geometry(
                            GeometryType.LineString, srid=a.srid,
                            coords=np.array([s[1], s[2]], dtype=np.float64)))
                    else:
                        _, ux, uy, r, a0, sw = s
                        angs = (a0, a0 + sw / 2.0, a0 + sw)
                        parts.append(Geometry(
                            GeometryType.CircularString, srid=a.srid,
                            coords=np.array(
                                [[ux + r * _m.cos(t), uy + r * _m.sin(t)]
                                 for t in angs])))
                parts.extend(
                    Geometry(GeometryType.Point, srid=a.srid,
                             coords=np.array(p)) for p in pts)
                if not parts:
                    return Geometry(GeometryType.Point, srid=a.srid, coords=None)
                if len(parts) == 1:
                    return parts[0]
                if not stretches:
                    return Geometry(GeometryType.MultiPoint, srid=a.srid,
                                    geoms=parts)
                if not pts:  # homogeneous 1-D result
                    all_straight = all(
                        p.type_id == GeometryType.LineString for p in parts)
                    return Geometry(
                        GeometryType.MultiLineString if all_straight
                        else GeometryType.MultiCurve,
                        srid=a.srid, geoms=parts)
                return Geometry(GeometryType.GeometryCollection, srid=a.srid,
                                geoms=parts)
    # collections: intersect each part, collect results
    if _is_part_container(a) or _is_part_container(b):
        parts = []
        for pa in _flatten_parts(a):
            for pb in _flatten_parts(b):
                if intersects(pa, pb):
                    r = _intersection_impl(pa, pb)
                    if not r.is_empty():
                        parts.append(r)
        if not parts:
            return _empty_like_overlay(a, b)
        if len(parts) == 1:
            return parts[0]
        return collect(parts, srid=a.srid, dissolve=True)
    # point cases
    for first, second, flip in ((a, b, False), (b, a, True)):
        if first.type_id == GeometryType.Point:
            return first.copy() if intersects(first, second) else Geometry(GeometryType.Point, srid=a.srid, coords=None)
    ra, rb = _axis_rect(a), _axis_rect(b)
    if ra and rb:
        x0, y0 = max(ra[0], rb[0]), max(ra[1], rb[1])
        x1, y1 = min(ra[2], rb[2]), min(ra[3], rb[3])
        if x0 > x1 or y0 > y1:
            return _mk_empty_poly(a.srid)
        if x0 == x1 and y0 == y1:
            return Geometry(GeometryType.Point, srid=a.srid, coords=np.array([x0, y0]))
        if x0 == x1 or y0 == y1:
            return Geometry(GeometryType.LineString, srid=a.srid, coords=np.array([[x0, y0], [x1, y1]]))
        return _mk_rect(x0, y0, x1, y1, a.srid)
    # lineal vs areal
    for line, poly, flip in ((a, b, False), (b, a, True)):
        if line.dimensions() == 1 and poly.dimensions() == 2:
            rp = _axis_rect(poly)
            if rp:
                parts = []
                for chain in _decompose(line).lines:
                    parts.extend(_clip_chain(chain, *rp))
                return _lines_result(parts, a.srid)
            # general (concave, holed) polygon: split-and-classify clip (r5)
            return _line_polygon_intersection(line, poly)
    # polygon vs polygon with a convex side
    if a.dimensions() == 2 and b.dimensions() == 2:
        if a.type_id == GeometryType.Polygon and b.type_id == GeometryType.Polygon:
            if _is_convex_polygon(b):
                return _sh_clip_polygon_convex(a, b)
            if _is_convex_polygon(a):
                return _sh_clip_polygon_convex(b, a)
        # general concave case: classify-and-stitch overlay
        from polars_st_spark.geo.overlay import overlay as _overlay

        return _overlay(a, b, "intersection")
    if a.dimensions() == 1 and b.dimensions() == 1:
        return _line_line_intersection(a, b)
    raise NotImplementedError(f"intersection({a.type_name}, {b.type_name})")


def _line_line_intersection(a: Geometry, b: Geometry) -> Geometry:
    from polars_st_spark.geo.predicates import (
        _EPS, _on_segment, _seg_intersect_kind)

    pts = []
    segs = []
    for ca in _decompose(a).lines:
        for cb in _decompose(b).lines:
            # vectorized over the segment product of this chain pair, in
            # the scalar's i-major j-minor emission order (the per-pair
            # formulas are _seg_intersect_kind / _cross_point elementwise)
            A0 = np.asarray(ca, dtype=float)[:, :2]
            B0 = np.asarray(cb, dtype=float)[:, :2]
            na, nb = len(A0) - 1, len(B0) - 1
            if na < 1 or nb < 1:
                continue
            CH = 1 << 21
            for lo_ in range(0, na * nb, CH):
                hi_ = min(lo_ + CH, na * nb)
                idx = np.arange(lo_, hi_, dtype=np.int64)
                ii = idx // nb
                jj = idx - ii * nb
                px, py = A0[ii, 0], A0[ii, 1]
                qx, qy = A0[ii + 1, 0], A0[ii + 1, 1]
                cx, cy = B0[jj, 0], B0[jj, 1]
                ex, ey = B0[jj + 1, 0], B0[jj + 1, 1]
                d1 = (ex - cx) * (py - cy) - (ey - cy) * (px - cx)
                d2 = (ex - cx) * (qy - cy) - (ey - cy) * (qx - cx)
                d3 = (qx - px) * (cy - py) - (qy - py) * (cx - px)
                d4 = (qx - px) * (ey - py) - (qy - py) * (ex - px)
                tol = _EPS * (
                    np.maximum(np.maximum(np.abs(ex - cx), np.abs(ey - cy)), 1.0)
                    * np.maximum(np.maximum(np.abs(qx - px), np.abs(qy - py)), 1.0)
                )
                proper = (
                    ((d1 > tol) & (d2 < -tol)) | ((d1 < -tol) & (d2 > tol))
                ) & (((d3 > tol) & (d4 < -tol)) | ((d3 < -tol) & (d4 > tol)))
                near1 = np.abs(d1) <= tol
                near2 = np.abs(d2) <= tol
                near3 = np.abs(d3) <= tol
                near4 = np.abs(d4) <= tol
                allnear = near1 & near2 & near3 & near4
                axis_x = np.abs(qx - px) >= np.abs(qy - py)
                a1v = np.where(axis_x, px, py)
                b1v = np.where(axis_x, qx, qy)
                c1v = np.where(axis_x, cx, cy)
                e1v = np.where(axis_x, ex, ey)
                lo_ax = np.maximum(np.minimum(a1v, b1v), np.minimum(c1v, e1v))
                hi_ax = np.minimum(np.maximum(a1v, b1v), np.maximum(c1v, e1v))
                kind3 = allnear & (hi_ax - lo_ax > _EPS)
                kind1_col = allnear & ~kind3 & (hi_ax >= lo_ax - _EPS)

                def on_seg(ptx, pty, sx, sy, tx, ty):
                    cr = (tx - sx) * (pty - sy) - (ty - sy) * (ptx - sx)
                    sc = np.maximum(
                        np.maximum(np.abs(tx - sx), np.abs(ty - sy)), 1.0)
                    return (
                        (np.abs(cr) <= _EPS * sc * sc)
                        & (ptx >= np.minimum(sx, tx) - _EPS)
                        & (ptx <= np.maximum(sx, tx) + _EPS)
                        & (pty >= np.minimum(sy, ty) - _EPS)
                        & (pty <= np.maximum(sy, ty) + _EPS)
                    )

                touched = (
                    (near1 & on_seg(px, py, cx, cy, ex, ey))
                    | (near2 & on_seg(qx, qy, cx, cy, ex, ey))
                    | (near3 & on_seg(cx, cy, px, py, qx, qy))
                    | (near4 & on_seg(ex, ey, px, py, qx, qy))
                )
                kind12 = proper | (~allnear & touched) | kind1_col
                if kind3.any():
                    km = np.nonzero(kind3)[0]
                    den_ax = np.where(axis_x[km], qx[km] - px[km],
                                      qy[km] - py[km])
                    tdx = (qx[km] - px[km]) / den_ax
                    tdy = (qy[km] - py[km]) / den_ax
                    pv = np.where(axis_x[km], px[km], py[km])
                    for k_, m_ in enumerate(km):
                        s0 = np.array([px[m_] + (lo_ax[m_] - pv[k_]) * tdx[k_],
                                       py[m_] + (lo_ax[m_] - pv[k_]) * tdy[k_]])
                        s1 = np.array([px[m_] + (hi_ax[m_] - pv[k_]) * tdx[k_],
                                       py[m_] + (hi_ax[m_] - pv[k_]) * tdy[k_]])
                        segs.append(np.array([s0, s1]))
                if kind12.any():
                    km = np.nonzero(kind12)[0]
                    den = ((px[km] - qx[km]) * (cy[km] - ey[km])
                           - (py[km] - qy[km]) * (cx[km] - ex[km]))
                    ok = den != 0
                    t = np.where(ok, ((px[km] - cx[km]) * (cy[km] - ey[km])
                                      - (py[km] - cy[km]) * (cx[km] - ex[km]))
                                 / np.where(ok, den, 1.0), 0.0)
                    ptx = px[km] + t * (qx[km] - px[km])
                    pty = py[km] + t * (qy[km] - py[km])
                    for k_, m_ in enumerate(km):
                        if ok[k_]:
                            pts.append(np.array([ptx[k_], pty[k_]]))
                        else:
                            # scalar _cross_point den==0 fallback: first
                            # endpoint lying on the other segment
                            pq = (np.array([px[m_], py[m_]]),
                                  np.array([qx[m_], qy[m_]]))
                            ce = (np.array([cx[m_], cy[m_]]),
                                  np.array([ex[m_], ey[m_]]))
                            got = None
                            for cand in pq:
                                if _on_segment(cand, ce[0], ce[1]):
                                    got = cand
                                    break
                            if got is None:
                                for cand in ce:
                                    if _on_segment(cand, pq[0], pq[1]):
                                        got = cand
                                        break
                            if got is not None:
                                pts.append(np.asarray(got, dtype=float))
    if segs:
        return _lines_result(segs, a.srid)
    # order-preserving first-keep dedupe with np.allclose's tolerance
    # (|p-q| <= atol + rtol*|q| per component), one vector compare per
    # candidate instead of a scalar allclose per kept point
    uniq = []
    kx = np.empty(0)
    ky = np.empty(0)
    for p in pts:
        close = ((np.abs(p[0] - kx) <= 1e-8 + 1e-5 * np.abs(kx))
                 & (np.abs(p[1] - ky) <= 1e-8 + 1e-5 * np.abs(ky)))
        if not close.any():
            uniq.append(p)
            kx = np.append(kx, p[0])
            ky = np.append(ky, p[1])
    if not uniq:
        return Geometry(GeometryType.Point, srid=a.srid, coords=None)
    if len(uniq) == 1:
        return Geometry(GeometryType.Point, srid=a.srid, coords=uniq[0])
    return Geometry(
        GeometryType.MultiPoint,
        srid=a.srid,
        geoms=[Geometry(GeometryType.Point, srid=a.srid, coords=p) for p in uniq],
    )


def _cross_point(p, q, c, e):
    den = (p[0] - q[0]) * (c[1] - e[1]) - (p[1] - q[1]) * (c[0] - e[0])
    if den == 0:
        for cand in (p, q):
            from polars_st_spark.geo.predicates import _on_segment

            if _on_segment(cand, c, e):
                return np.asarray(cand, dtype=float)
        for cand in (c, e):
            from polars_st_spark.geo.predicates import _on_segment

            if _on_segment(cand, p, q):
                return np.asarray(cand, dtype=float)
        return None
    t = ((p[0] - c[0]) * (c[1] - e[1]) - (p[1] - c[1]) * (c[0] - e[0])) / den
    return np.array([p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1])])


# ----------------------------------------------------------------------
# General lineal × areal / lineal × lineal clipping (r5 — closes the
# "line ∩/− concave polygon" gap; the reference gets every combination
# from GEOS overlay, src/functions.rs:1096-1192)
#
# Split-and-classify: each chain segment splits at every contact with the
# other side's edges (proper crossings, endpoint touches, collinear-run
# ends), then each sub-piece classifies by its MIDPOINT location —
# interior/boundary of a closed polygon for ∩, strict exterior for −.
# Exactly the scalar relate machinery's split discipline, so tolerance
# behavior matches the predicates.
# ----------------------------------------------------------------------

def _areal_edges(g: Geometry) -> list[tuple[np.ndarray, np.ndarray]]:
    segs = []
    for rings in _decompose(g).polys:
        for ring in rings:
            r = _closed(np.asarray(ring, dtype=float))
            for i in range(len(r) - 1):
                segs.append((r[i, :2], r[i + 1, :2]))
    return segs


def _lineal_edges(g: Geometry) -> list[tuple[np.ndarray, np.ndarray]]:
    segs = []
    for chain in _decompose(g).lines:
        c = np.asarray(chain, dtype=float)
        for i in range(len(c) - 1):
            segs.append((c[i, :2], c[i + 1, :2]))
    return segs


def _seg_split_params(p: np.ndarray, q: np.ndarray, segs) -> list[float]:
    """Sorted params t in [0,1] splitting segment pq at every contact with
    ``segs`` (crossing points, touch points, collinear-overlap ends)."""
    from polars_st_spark.geo.predicates import _on_segment, _seg_intersect_kind

    ts = {0.0, 1.0}
    d = q - p
    axis = 0 if abs(d[0]) >= abs(d[1]) else 1
    for c, e in segs:
        kind = _seg_intersect_kind(p, q, c, e)
        if kind == 0:
            continue
        if kind == 2:
            den = (p[0] - q[0]) * (c[1] - e[1]) - (p[1] - q[1]) * (c[0] - e[0])
            if den != 0:
                t = ((p[0] - c[0]) * (c[1] - e[1])
                     - (p[1] - c[1]) * (c[0] - e[0])) / den
                ts.add(min(max(t, 0.0), 1.0))
            continue
        # touch (1) or collinear overlap (3): any edge endpoint lying on pq
        # is a split point (p/q on the edge are params 0/1, already present)
        for cand in (c, e):
            if _on_segment(cand, p, q) and d[axis] != 0:
                ts.add(min(max((cand[axis] - p[axis]) / d[axis], 0.0), 1.0))
    return sorted(ts)


def _chain_split_params_vec(c: np.ndarray, segs):
    """Per-chain-segment sorted split params, vectorized over the whole
    (chain segment × other segment) product — elementwise the exact
    ``_seg_split_params`` arithmetic (kind-2 den/t, touch/collinear
    endpoint projection on the chain segment's dominant axis), with an
    exact bbox prune (every split source needs the two segments' boxes
    dilated by _EPS to meet).

    Returns ``list[np.ndarray]`` of sorted unique params per chain
    segment (``None`` entries for degenerate zero-length segments)."""
    from polars_st_spark.geo.predicates import _EPS

    n = len(c) - 1
    P = c[:-1]
    Q = c[1:]
    degen = (P[:, 0] == Q[:, 0]) & (P[:, 1] == Q[:, 1])
    m = len(segs)
    out_i = [np.arange(n, dtype=np.int64), np.arange(n, dtype=np.int64)]
    out_t = [np.zeros(n), np.ones(n)]
    if m:
        O = np.empty((m, 4), dtype=np.float64)
        for k, (cc, ee) in enumerate(segs):
            O[k, 0], O[k, 1], O[k, 2], O[k, 3] = cc[0], cc[1], ee[0], ee[1]
        pbx0 = np.minimum(P[:, 0], Q[:, 0])
        pbx1 = np.maximum(P[:, 0], Q[:, 0])
        pby0 = np.minimum(P[:, 1], Q[:, 1])
        pby1 = np.maximum(P[:, 1], Q[:, 1])
        obx0 = np.minimum(O[:, 0], O[:, 2])
        obx1 = np.maximum(O[:, 0], O[:, 2])
        oby0 = np.minimum(O[:, 1], O[:, 3])
        oby1 = np.maximum(O[:, 1], O[:, 3])
        margin = 4.0 * _EPS
        CH = 1 << 21
        total = n * m
        for lo in range(0, total, CH):
            hi = min(lo + CH, total)
            idx = np.arange(lo, hi, dtype=np.int64)
            ii = idx // m
            jj = idx - ii * m
            near = (
                ~degen[ii]
                & (pbx0[ii] <= obx1[jj] + margin) & (obx0[jj] <= pbx1[ii] + margin)
                & (pby0[ii] <= oby1[jj] + margin) & (oby0[jj] <= pby1[ii] + margin)
            )
            sel = np.nonzero(near)[0]
            if not len(sel):
                continue
            ii = ii[sel]
            jj = jj[sel]
            px, py = P[ii, 0], P[ii, 1]
            qx, qy = Q[ii, 0], Q[ii, 1]
            cx, cy = O[jj, 0], O[jj, 1]
            ex, ey = O[jj, 2], O[jj, 3]
            d1 = (ex - cx) * (py - cy) - (ey - cy) * (px - cx)
            d2 = (ex - cx) * (qy - cy) - (ey - cy) * (qx - cx)
            d3 = (qx - px) * (cy - py) - (qy - py) * (cx - px)
            d4 = (qx - px) * (ey - py) - (qy - py) * (ex - px)
            sc_pq = np.maximum(np.maximum(np.abs(qx - px), np.abs(qy - py)), 1.0)
            sc_ce = np.maximum(np.maximum(np.abs(ex - cx), np.abs(ey - cy)), 1.0)
            tol = _EPS * sc_ce * sc_pq
            proper = (
                ((d1 > tol) & (d2 < -tol)) | ((d1 < -tol) & (d2 > tol))
            ) & (((d3 > tol) & (d4 < -tol)) | ((d3 < -tol) & (d4 > tol)))
            pm = np.nonzero(proper)[0]
            if len(pm):
                den = ((px[pm] - qx[pm]) * (cy[pm] - ey[pm])
                       - (py[pm] - qy[pm]) * (cx[pm] - ex[pm]))
                ok = den != 0
                t = ((px[pm] - cx[pm]) * (cy[pm] - ey[pm])
                     - (py[pm] - cy[pm]) * (cx[pm] - ex[pm]))
                t = t[ok] / den[ok]
                out_i.append(ii[pm[ok]])
                out_t.append(np.minimum(np.maximum(t, 0.0), 1.0))
            # touch / collinear contact: project the other segment's
            # endpoints where they lie ON the chain segment
            near1 = np.abs(d1) <= tol
            near2 = np.abs(d2) <= tol
            near3 = np.abs(d3) <= tol
            near4 = np.abs(d4) <= tol
            allnear = near1 & near2 & near3 & near4
            axis_x = np.abs(qx - px) >= np.abs(qy - py)
            a1v = np.where(axis_x, px, py)
            b1v = np.where(axis_x, qx, qy)
            c1v = np.where(axis_x, cx, cy)
            e1v = np.where(axis_x, ex, ey)
            lo_ = np.maximum(np.minimum(a1v, b1v), np.minimum(c1v, e1v))
            hi_ = np.minimum(np.maximum(a1v, b1v), np.maximum(c1v, e1v))
            col_hit = hi_ >= lo_ - _EPS

            def on_seg(ptx, pty, sx, sy, tx, ty):
                cr = (tx - sx) * (pty - sy) - (ty - sy) * (ptx - sx)
                sc = np.maximum(np.maximum(np.abs(tx - sx), np.abs(ty - sy)), 1.0)
                return (
                    (np.abs(cr) <= _EPS * sc * sc)
                    & (ptx >= np.minimum(sx, tx) - _EPS)
                    & (ptx <= np.maximum(sx, tx) + _EPS)
                    & (pty >= np.minimum(sy, ty) - _EPS)
                    & (pty <= np.maximum(sy, ty) + _EPS)
                )

            touched = (
                (near1 & on_seg(px, py, cx, cy, ex, ey))
                | (near2 & on_seg(qx, qy, cx, cy, ex, ey))
                | (near3 & on_seg(cx, cy, px, py, qx, qy))
                | (near4 & on_seg(ex, ey, px, py, qx, qy))
            )
            contact = ~proper & np.where(allnear, col_hit, touched)
            cm = np.nonzero(contact)[0]
            if len(cm):
                daxis = np.where(axis_x[cm], qx[cm] - px[cm], qy[cm] - py[cm])
                ok0 = daxis != 0
                safe = np.where(ok0, daxis, 1.0)
                for candx, candy in ((cx[cm], cy[cm]), (ex[cm], ey[cm])):
                    keep_ = ok0 & on_seg(candx, candy, px[cm], py[cm],
                                         qx[cm], qy[cm])
                    cv = np.where(axis_x[cm], candx, candy)
                    pv = np.where(axis_x[cm], px[cm], py[cm])
                    t = np.minimum(np.maximum((cv - pv) / safe, 0.0), 1.0)
                    out_i.append(ii[cm[keep_]])
                    out_t.append(t[keep_])
    all_i = np.concatenate(out_i)
    all_t = np.concatenate(out_t)
    order = np.lexsort((all_t, all_i))
    s, t = all_i[order], all_t[order]
    uniq = np.ones(len(s), dtype=bool)
    uniq[1:] = (s[1:] != s[:-1]) | (t[1:] != t[:-1])
    s, t = s[uniq], t[uniq]
    bounds_ = np.searchsorted(s, np.arange(n + 1))
    out: list = []
    for si in range(n):
        if degen[si]:
            out.append(None)
        else:
            out.append(t[bounds_[si]:bounds_[si + 1]])
    return out


def _clip_chain_general(chain: np.ndarray, segs, locfn, keep: str,
                        locfn_batch=None):
    """Maximal sub-chains of ``chain`` kept by the midpoint rule, plus (for
    ``keep='in'``) isolated touch points not covered by any kept piece.

    keep='in'  : midpoint location >= 1 (closed other side — GEOS ∩)
    keep='out' : midpoint location == 0 (strict exterior — GEOS −)

    ``locfn_batch`` (optional) evaluates many probe points at once —
    ``f(px, py) -> int array`` with the same 0/1/2 values as ``locfn``;
    when given, all midpoint (and touch-candidate) locations run in one
    vectorized pass instead of per-probe scalar calls."""
    c = np.asarray(chain, dtype=float)[:, :2]
    n = len(c) - 1
    if n < 1:
        return [], []
    ts_per_seg = _chain_split_params_vec(c, segs)
    # midpoint location for every candidate sub-piece
    mid_seg: list = []
    mid_t0: list = []
    mid_t1: list = []
    for si in range(n):
        ts = ts_per_seg[si]
        if ts is None or len(ts) < 2:
            continue
        dt = ts[1:] - ts[:-1]
        keep_m = dt > 1e-12
        mid_seg.append(np.full(int(keep_m.sum()), si, dtype=np.int64))
        mid_t0.append(ts[:-1][keep_m])
        mid_t1.append(ts[1:][keep_m])
    if not mid_seg:
        return [], []
    mseg = np.concatenate(mid_seg)
    mt0 = np.concatenate(mid_t0)
    mt1 = np.concatenate(mid_t1)
    Pm = c[:-1][mseg]
    Dm = c[1:][mseg] - Pm
    mx = Pm[:, 0] + ((mt0 + mt1) / 2.0) * Dm[:, 0]
    my = Pm[:, 1] + ((mt0 + mt1) / 2.0) * Dm[:, 1]
    if locfn_batch is not None:
        locs = np.asarray(locfn_batch(mx, my))
    else:
        locs = np.array([locfn(np.array([mx[k], my[k]]))
                         for k in range(len(mx))])
    kept = (locs >= 1) if keep == "in" else (locs == 0)
    pieces: list[np.ndarray] = []
    cur: list[np.ndarray] | None = None
    for k in range(len(mseg)):
        if not kept[k]:
            if cur is not None and len(cur) >= 2:
                pieces.append(np.asarray(cur))
            cur = None
            continue
        p = c[mseg[k]]
        q = c[mseg[k] + 1]
        a_ = p + mt0[k] * (q - p)
        b_ = p + mt1[k] * (q - p)
        if cur is not None and np.allclose(cur[-1], a_):
            cur.append(b_)
        else:
            if cur is not None and len(cur) >= 2:
                pieces.append(np.asarray(cur))
            cur = [a_, b_]
    if cur is not None and len(cur) >= 2:
        pieces.append(np.asarray(cur))
    touch_pts: list[np.ndarray] = []
    if keep == "in":
        from polars_st_spark.geo.predicates import _on_segment

        split_pts: list[np.ndarray] = []
        for si in range(n):
            ts = ts_per_seg[si]
            if ts is None:
                continue
            p, q = c[si], c[si + 1]
            split_pts.extend(p + t * (q - p) for t in ts)
        if split_pts:
            sp = np.asarray(split_pts)
            if locfn_batch is not None:
                sl = np.asarray(locfn_batch(sp[:, 0], sp[:, 1]))
            else:
                sl = np.array([locfn(pt) for pt in split_pts])
            for pt, l_ in zip(split_pts, sl):
                if l_ < 1:
                    continue
                covered = any(
                    _on_segment(pt, piece[i], piece[i + 1])
                    for piece in pieces
                    for i in range(len(piece) - 1)
                )
                if not covered and not any(np.allclose(pt, u) for u in touch_pts):
                    touch_pts.append(pt)
    return pieces, touch_pts


def _poly_locfn(poly: Geometry):
    rings_list = _decompose(poly).polys

    def loc(pt):
        best = 0
        for rings in rings_list:
            l = point_in_polygon(pt, rings)
            if l == 2:
                return 2
            best = max(best, l)
        return best

    return loc


def _line_locfn(line: Geometry):
    from polars_st_spark.geo.predicates import _on_segment

    segs = _lineal_edges(line)

    def loc(pt):
        return 1 if any(_on_segment(pt, c, e) for c, e in segs) else 0

    return loc


def _poly_locfn_batch(poly: Geometry):
    """Batched ``_poly_locfn``: int array 0/1/2 over many probes."""
    from polars_st_spark.geo.predicates import poly_locate_vec

    rings_list = _decompose(poly).polys

    def loc(px, py):
        best = np.zeros(len(px), dtype=np.int8)
        for rings in rings_list:
            todo = best < 2
            if not todo.any():
                break
            i = np.nonzero(todo)[0]
            l_ = poly_locate_vec(rings, px[i], py[i])
            best[i] = np.maximum(best[i], l_)
        return best

    return loc


def _line_locfn_batch(line: Geometry):
    """Batched ``_line_locfn``: 1 where the probe lies on any segment."""
    from polars_st_spark.geo.predicates import _EPS

    segs = _lineal_edges(line)
    m = len(segs)
    if not m:
        return lambda px, py: np.zeros(len(px), dtype=np.int8)
    O = np.empty((m, 4), dtype=np.float64)
    for k, (cc, ee) in enumerate(segs):
        O[k, 0], O[k, 1], O[k, 2], O[k, 3] = cc[0], cc[1], ee[0], ee[1]
    sx, sy, tx, ty = O[:, 0], O[:, 1], O[:, 2], O[:, 3]
    sc = np.maximum(np.maximum(np.abs(tx - sx), np.abs(ty - sy)), 1.0)
    tol = _EPS * sc * sc
    bx0 = np.minimum(sx, tx) - _EPS
    bx1 = np.maximum(sx, tx) + _EPS
    by0 = np.minimum(sy, ty) - _EPS
    by1 = np.maximum(sy, ty) + _EPS

    def loc(px, py):
        P = len(px)
        out = np.zeros(P, dtype=np.int8)
        CH = max(1, (1 << 22) // m)
        for lo in range(0, P, CH):
            hi = min(lo + CH, P)
            PX = px[lo:hi, None]
            PY = py[lo:hi, None]
            cr = ((tx - sx)[None, :] * (PY - sy[None, :])
                  - (ty - sy)[None, :] * (PX - sx[None, :]))
            on = (
                (np.abs(cr) <= tol[None, :])
                & (PX >= bx0[None, :]) & (PX <= bx1[None, :])
                & (PY >= by0[None, :]) & (PY <= by1[None, :])
            )
            out[lo:hi] = on.any(axis=1).astype(np.int8)
        return out

    return loc


def _mixed_clip_result(pieces, touch_pts, srid: int, empty_like) -> Geometry:
    if pieces and touch_pts:
        parts = [Geometry(GeometryType.LineString, srid=srid, coords=p)
                 for p in pieces]
        parts += [Geometry(GeometryType.Point, srid=srid, coords=p)
                  for p in touch_pts]
        return Geometry(GeometryType.GeometryCollection, srid=srid, geoms=parts)
    if pieces:
        return _lines_result(pieces, srid)
    if touch_pts:
        if len(touch_pts) == 1:
            return Geometry(GeometryType.Point, srid=srid, coords=touch_pts[0])
        return Geometry(
            GeometryType.MultiPoint, srid=srid,
            geoms=[Geometry(GeometryType.Point, srid=srid, coords=p)
                   for p in touch_pts],
        )
    return empty_like


def _line_polygon_intersection(line: Geometry, poly: Geometry) -> Geometry:
    segs = _areal_edges(poly)
    locfn = _poly_locfn(poly)
    locb = _poly_locfn_batch(poly)
    pieces: list[np.ndarray] = []
    pts: list[np.ndarray] = []
    for chain in _decompose(line).lines:
        ps, tp = _clip_chain_general(chain, segs, locfn, "in", locfn_batch=locb)
        pieces.extend(ps)
        pts.extend(tp)
    # a touch point already covered by a piece from ANOTHER chain is dup
    pts = [p for p in pts if not any(
        np.allclose(p, piece[i]) or np.allclose(p, piece[i + 1])
        for piece in pieces for i in range(len(piece) - 1))]
    return _mixed_clip_result(
        pieces, pts, line.srid,
        Geometry(GeometryType.LineString, srid=line.srid, coords=np.empty((0, 2))),
    )


def _line_minus_polygon(line: Geometry, poly: Geometry) -> Geometry:
    segs = _areal_edges(poly)
    locfn = _poly_locfn(poly)
    locb = _poly_locfn_batch(poly)
    pieces: list[np.ndarray] = []
    for chain in _decompose(line).lines:
        ps, _ = _clip_chain_general(chain, segs, locfn, "out", locfn_batch=locb)
        pieces.extend(ps)
    return _lines_result(pieces, line.srid)


def _on_any_seg_batch(segs, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Vectorized ``any(_on_segment(pt, s, e) for s, e in segs)`` per probe."""
    from polars_st_spark.geo.predicates import _EPS

    P = len(px)
    out = np.zeros(P, dtype=bool)
    m = len(segs)
    if not m or not P:
        return out
    O = np.empty((m, 4), dtype=np.float64)
    for k, (cc, ee) in enumerate(segs):
        O[k, 0], O[k, 1], O[k, 2], O[k, 3] = cc[0], cc[1], ee[0], ee[1]
    sx, sy, tx, ty = O[:, 0], O[:, 1], O[:, 2], O[:, 3]
    sc = np.maximum(np.maximum(np.abs(tx - sx), np.abs(ty - sy)), 1.0)
    tol = (_EPS * sc * sc)[None, :]
    bx0 = (np.minimum(sx, tx) - _EPS)[None, :]
    bx1 = (np.maximum(sx, tx) + _EPS)[None, :]
    by0 = (np.minimum(sy, ty) - _EPS)[None, :]
    by1 = (np.maximum(sy, ty) + _EPS)[None, :]
    CH = max(1, (1 << 22) // m)
    for lo in range(0, P, CH):
        hi = min(lo + CH, P)
        PX = px[lo:hi, None]
        PY = py[lo:hi, None]
        cr = ((tx - sx)[None, :] * (PY - sy[None, :])
              - (ty - sy)[None, :] * (PX - sx[None, :]))
        on = ((np.abs(cr) <= tol)
              & (PX >= bx0) & (PX <= bx1) & (PY >= by0) & (PY <= by1))
        out[lo:hi] = on.any(axis=1)
    return out


def _node_chain_at_contacts(chain: np.ndarray, segs) -> list[np.ndarray]:
    """Split a chain at every interior contact param against ``segs`` (the
    lineal-union noding step): crossing points AND interior-vertex touches
    become piece endpoints, so output pieces pairwise touch only at
    endpoints — the invariant `collect` needs."""
    c = np.asarray(chain, dtype=float)[:, :2]
    n = len(c) - 1
    if n < 1:
        return []
    ts_per_seg = _chain_split_params_vec(c, segs)
    vtx_contact = (_on_any_seg_batch(segs, c[1:-1, 0], c[1:-1, 1])
                   if n >= 2 else np.zeros(0, dtype=bool))
    pieces: list[np.ndarray] = []
    cur: list[np.ndarray] = [c[0]]
    for i in range(n):
        p, q = c[i], c[i + 1]
        ts = ts_per_seg[i]
        if ts is None:  # degenerate zero-length segment
            continue
        for t in ts:
            if t <= 1e-12 or t >= 1 - 1e-12:
                continue
            pt = p + t * (q - p)
            cur.append(pt)
            pieces.append(np.asarray(cur))
            cur = [pt]
        cur.append(q)
        # an interior CHAIN VERTEX in contact also nodes (t=1/t=0 params
        # are excluded above, so handle the shared-vertex case here)
        if i < n - 1 and vtx_contact[i]:
            pieces.append(np.asarray(cur))
            cur = [q]
    if len(cur) >= 2:
        pieces.append(np.asarray(cur))
    return pieces


def _line_minus_line(a: Geometry, b: Geometry) -> Geometry:
    """GEOS semantics: removes the collinear-overlap runs (the 1-dim common
    part); isolated crossing points don't split the result's point set but
    DO node the output (GEOS returns the survivor pieces merged)."""
    segs = _lineal_edges(b)
    locfn = _line_locfn(b)
    locb = _line_locfn_batch(b)
    pieces: list[np.ndarray] = []
    for chain in _decompose(a).lines:
        ps, _ = _clip_chain_general(chain, segs, locfn, "out", locfn_batch=locb)
        pieces.extend(ps)
    return _lines_result(pieces, a.srid)


def union(a: Geometry, b: Geometry, grid_size: float | None = None) -> Geometry:
    if a.is_empty():
        return b.copy()
    if b.is_empty():
        return a.copy()
    return union_all([a, b], grid_size)


def difference(a: Geometry, b: Geometry, grid_size: float | None = None) -> Geometry:
    if a.is_empty():
        return a.copy()
    if b.is_empty() or not intersects(a, b):
        return a.copy()
    # the covers() precheck only short-circuits what the lineal clip paths
    # already produce natively (all midpoints covered -> empty LineString,
    # byte-identical to _empty_like_overlay) — and the scalar relate behind
    # covers() is O(n·m) on big lines, dwarfing the clip itself. The batch
    # kernel never ran the precheck either, so skipping it here REMOVES a
    # latent epsilon-divergence source between the two paths.
    if not (a.dimensions() == 1 and b.geoms is None
            and b.dimensions() >= 1) and covers(b, a):
        return _empty_like_overlay(a, a)
    # subtracting a lower-dimension geometry leaves a unchanged (GEOS semantics)
    if b.dimensions() < a.dimensions():
        return a.copy()
    # b a collection → fold difference over its parts
    if _is_part_container(b):
        acc = a.copy()
        for pb in _flatten_parts(b):
            acc = difference(acc, pb, grid_size)
            if acc.is_empty():
                return acc
        return acc
    # rectilinear \ rectilinear → exact region algebra
    if a.dimensions() == 2 and b.dimensions() == 2:
        reg_a, reg_b = geometry_to_region(a), geometry_to_region(b)
        if reg_a is not None and reg_b is not None:
            return region_to_geometry(reg_a.subtract(reg_b), a.srid)
        # r11: curved areal \ areal — exact piece-tracing overlay
        if not _is_part_container(a):
            from polars_st_spark.geo.curves import _is_curved

            if _is_curved(a) or _is_curved(b):
                return _curved_overlay_or_linearized(a, b, "difference")
    # lineal \ rectilinear → complement clipping
    if a.dimensions() == 1 and b.dimensions() == 2:
        reg_b = geometry_to_region(b)
        if reg_b is not None:
            parts = []
            for chain in _decompose(a).lines:
                parts.extend(_chain_outside_region(chain, reg_b))
            return _lines_result(parts, a.srid)
    # collections: difference each part of a, collect survivors
    if _is_part_container(a):
        parts = []
        for pa in _flatten_parts(a):
            r = difference(pa, b, grid_size)
            if not r.is_empty():
                parts.append(r)
        if not parts:
            return _empty_like_overlay(a, a)
        if len(parts) == 1:
            return parts[0]
        return collect(parts, srid=a.srid, dissolve=True)
    # point case
    if a.type_id == GeometryType.Point:
        return a.copy() if not intersects(a, b) else Geometry(GeometryType.Point, srid=a.srid, coords=None)
    ra, rb = _axis_rect(a), _axis_rect(b)
    if ra and rb:
        pieces = _rect_minus_rect(ra, rb)
        return _rects_to_geometry(pieces, a.srid)
    if a.dimensions() == 1 and b.dimensions() == 2:
        rb2 = _axis_rect(b)
        if rb2:
            parts = []
            for chain in _decompose(a).lines:
                parts.extend(_chain_outside_rect(chain, *rb2))
            return _lines_result(parts, a.srid)
        # general (concave, holed) polygon: split-and-classify clip (r5)
        return _line_minus_polygon(a, b)
    if a.dimensions() == 1 and b.dimensions() == 1:
        return _line_minus_line(a, b)
    if a.dimensions() == 2 and b.dimensions() == 2:
        from polars_st_spark.geo.overlay import overlay as _overlay

        return _overlay(a, b, "difference")
    raise NotImplementedError(f"difference({a.type_name}, {b.type_name})")


def _chain_outside_region(c: np.ndarray, region: RectRegion) -> list[np.ndarray]:
    """Chain pieces outside a rectilinear region."""
    pieces = [np.asarray(c)[:, :2]]
    for x0, y0, x1, y1 in region.rects:
        nxt: list[np.ndarray] = []
        for p in pieces:
            nxt.extend(_chain_outside_rect(p, x0, y0, x1, y1))
        pieces = nxt
        if not pieces:
            break
    return pieces


def _chain_outside_rect(c: np.ndarray, x0, y0, x1, y1) -> list[np.ndarray]:
    """Segments of chain outside the rectangle (complement of Liang–Barsky)."""
    parts = []
    cur: list[np.ndarray] = []

    def push(p, q):
        nonlocal cur
        if cur and np.allclose(cur[-1], p):
            cur.append(q)
        else:
            if len(cur) >= 2:
                parts.append(np.asarray(cur))
            cur = [p, q]

    for i in range(len(c) - 1):
        p, q = c[i, :2], c[i + 1, :2]
        seg = _clip_segment(p, q, x0, y0, x1, y1)
        if seg is None:
            push(p, q)
            continue
        a_, b_ = seg
        if not np.allclose(p, a_):
            push(p, a_)
        if not np.allclose(b_, q):
            push(b_, q)
    if len(cur) >= 2:
        parts.append(np.asarray(cur))
    return parts


def symmetric_difference(a: Geometry, b: Geometry, grid_size: float | None = None) -> Geometry:
    if a.is_empty():
        return b.copy()
    if b.is_empty():
        return a.copy()
    if not intersects(a, b):
        return collect([a, b], srid=a.srid, dissolve=True)
    if a.dimensions() == 2 and b.dimensions() == 2:
        reg_a, reg_b = geometry_to_region(a), geometry_to_region(b)
        if reg_a is not None and reg_b is not None:
            return region_to_geometry(reg_a.symmetric_difference(reg_b), a.srid)
    d1 = difference(a, b)
    d2 = difference(b, a)
    if d1.is_empty():
        return d2
    if d2.is_empty():
        return d1
    if a.dimensions() == 1 and b.dimensions() == 1:
        # lineal⊕lineal: GEOS returns fully NODED linework — the two
        # exclusive sides can still cross each other (r5)
        segs1 = _lineal_edges(d1)
        segs2 = _lineal_edges(d2)
        pieces = [p for ch in _decompose(d1).lines
                  for p in _node_chain_at_contacts(ch, segs2)]
        pieces += [p for ch in _decompose(d2).lines
                   for p in _node_chain_at_contacts(ch, segs1)]
        return _lines_result(pieces, a.srid)
    return collect([d1, d2], srid=a.srid, dissolve=True)


def _rect_minus_rect(ra, rb) -> list[tuple[float, float, float, float]]:
    ax0, ay0, ax1, ay1 = ra
    bx0, by0, bx1, by1 = rb
    ix0, iy0 = max(ax0, bx0), max(ay0, by0)
    ix1, iy1 = min(ax1, bx1), min(ay1, by1)
    if ix0 >= ix1 or iy0 >= iy1:
        return [ra]
    out = []
    if ay0 < iy0:
        out.append((ax0, ay0, ax1, iy0))
    if iy1 < ay1:
        out.append((ax0, iy1, ax1, ay1))
    if ax0 < ix0:
        out.append((ax0, iy0, ix0, iy1))
    if ix1 < ax1:
        out.append((ix1, iy0, ax1, iy1))
    return out


def _rects_to_geometry(rects, srid: int) -> Geometry:
    rects = [r for r in rects if r[2] > r[0] and r[3] > r[1]]
    if not rects:
        return _mk_empty_poly(srid)
    if len(rects) == 1:
        return _mk_rect(*rects[0], srid)
    return Geometry(
        GeometryType.MultiPolygon, srid=srid, geoms=[_mk_rect(*r, srid) for r in rects]
    )


def rectangles_union(rects, srid: int = 0) -> Geometry:
    """Exact union of axis-aligned rectangles via vertical slab decomposition.
    Output is a MultiPolygon of disjoint slabs (area-exact; shape is a valid
    decomposition of the union, not a dissolved outline)."""
    xs = sorted({r[0] for r in rects} | {r[2] for r in rects})
    pieces = []
    for i in range(len(xs) - 1):
        x0, x1 = xs[i], xs[i + 1]
        if x1 <= x0:
            continue
        ivals = []
        for rx0, ry0, rx1, ry1 in rects:
            if rx0 <= x0 and x1 <= rx1:
                ivals.append((ry0, ry1))
        if not ivals:
            continue
        ivals.sort()
        cy0, cy1 = ivals[0]
        for y0, y1 in ivals[1:]:
            if y0 <= cy1:
                cy1 = max(cy1, y1)
            else:
                pieces.append((x0, cy0, x1, cy1))
                cy0, cy1 = y0, y1
        pieces.append((x0, cy0, x1, cy1))
    # merge horizontally-adjacent slabs with identical y-extent
    merged: list[list[float]] = []
    for p in sorted(pieces, key=lambda t: (t[1], t[3], t[0])):
        if merged and merged[-1][1] == p[1] and merged[-1][3] == p[3] and merged[-1][2] == p[0]:
            merged[-1][2] = p[2]
        else:
            merged.append(list(p))
    return _rects_to_geometry([tuple(m) for m in merged], srid)


# ----------------------------------------------------------------------
# N-ary folds (reference: expressions.rs:873-999)
# ----------------------------------------------------------------------

def _union_areal_cluster(cluster: list[Geometry], srid: int) -> Geometry:
    """Union one overlapping-areal cluster. All-straight clusters take the
    one-shot classify-and-stitch overlay (overlay.union_many); clusters
    with a curved member fold pairwise through the exact curved overlay
    (r11), linearizing only the members the exact path declines."""
    from polars_st_spark.geo.curves import _is_curved, linearize

    if not any(_is_curved(g) for g in cluster):
        from polars_st_spark.geo.overlay import union_many

        return union_many(cluster, srid)
    from polars_st_spark.geo.curves import curved_areal_overlay

    acc = cluster[0]
    for g in cluster[1:]:
        res = curved_areal_overlay(acc, g, "union")
        if res is None:
            from polars_st_spark.geo.overlay import union_many

            flat = [p for m in cluster for p in _flatten_parts(linearize(m))]
            return union_many(flat, srid)
        acc = res
    return acc.with_srid(srid)


def _nonnull(geoms) -> list[Geometry]:
    return [g for g in geoms if g is not None]


def _areal_cluster(kept: list[Geometry], kb: np.ndarray, i: int, j: int,
                   eps: float) -> list[int]:
    """Sorted indices of the connected component holding ``i`` and ``j``
    in the graph whose edges join areal parts with ``eps``-overlapping
    boxes and ``interiors_intersect``. The component does not depend on
    the order its edges are found in, so a breadth-first pass grows it
    through witness edges (``intersects`` plus ``_interiors_witness``: no
    ``relate`` call) and keeps the intersecting pairs that have no
    witness; only then does ``touches`` decide those pairs, and each part
    it admits is grown from in turn. Every (member, part) pair is tested
    at most once by each predicate, and a group whose overlaps all have
    witnesses (a polygon tiled by overlapping pieces) takes no ``relate``
    call at all."""
    from polars_st_spark.geo.predicates import _interiors_witness

    def boxok(u: int, v: int) -> bool:
        with np.errstate(invalid="ignore"):
            return bool(
                kb[v, 0] <= kb[u, 2] + eps and kb[u, 0] <= kb[v, 2] + eps
                and kb[v, 1] <= kb[u, 3] + eps and kb[u, 1] <= kb[v, 3] + eps
            )

    areal = [g.dimensions() == 2 for g in kept]
    comp = {i, j}
    frontier = [i, j]
    while frontier:
        exact = []  # (member, part) pairs that intersect with no witness
        while frontier:
            u = frontier.pop()
            for v in range(len(kept)):
                if (v in comp or not areal[v] or not boxok(u, v)
                        or not intersects(kept[u], kept[v])):
                    continue
                if _interiors_witness(kept[u], kept[v]):
                    comp.add(v)
                    frontier.append(v)
                else:
                    exact.append((u, v))
        for u, v in exact:
            if v not in comp and not touches(kept[u], kept[v]):
                comp.add(v)
                frontier.append(v)
    return sorted(comp)


def union_all(geoms, grid_size: float | None = None) -> Geometry:
    """N-ary union; empty input → GEOMETRYCOLLECTION EMPTY
    (reference: expressions.rs:985-999).

    Strategy: flatten to primitive parts; exact slab-decomposition when all
    parts are axis-aligned rectangles; otherwise absorb covered parts
    (bbox-prefiltered scan), collect parts whose interiors don't overlap,
    and send overlapping areal clusters through the one-shot
    classify-and-stitch overlay (overlay.union_many) — concave and holed
    inputs included."""
    gs = _nonnull(geoms)
    parts: list[Geometry] = []
    for g in gs:
        parts.extend(_flatten_parts(g))
    if not parts:
        return empty_collection()
    srid = parts[0].srid
    if len(parts) == 1:
        return parts[0].copy()
    # rectilinear areal parts → exact region algebra, mixed dims handled
    areal = [p for p in parts if p.dimensions() == 2]
    lineal = [p for p in parts if p.dimensions() == 1]
    punctual = [p for p in parts if p.dimensions() == 0]
    regions = [geometry_to_region(p) for p in areal]
    if areal and all(r is not None for r in regions):
        region = RectRegion()
        for r in regions:
            region = region.union(r)
        out: list[Geometry] = _flatten_parts(region_to_geometry(region, srid))
        for l in lineal:
            for chain in _decompose(l).lines:
                for piece in _chain_outside_region(chain, region):
                    out.append(Geometry(GeometryType.LineString, srid=srid, coords=piece))
        higher = [p for p in out]
        for p in punctual:
            if not any(intersects(p, q) for q in higher):
                out.append(p.copy())
        if len(out) == 1:
            return out[0]
        return collect(out, srid=srid, dissolve=True)
    # absorption: drop any part covered by another surviving part.
    # bbox prefilter (r5 — the pairwise covers/intersects scans were
    # O(n²) geometry predicates; VERDICT r4): covers(h, g) requires
    # bbox(h) ⊇ bbox(g) and intersects requires bbox overlap (±ε for the
    # predicates' boundary tolerance), so candidate pairs come from a
    # vectorized bounds compare — large mostly-disjoint groups (the 100×
    # grain) do O(n) predicate calls instead of O(n²)
    _eps = 1e-9
    bnds = np.array([p.bounds() for p in parts], dtype=float)
    kept: list[Geometry] = []
    kept_idx: list[int] = []
    for i, g in enumerate(parts):
        gx0, gy0, gx1, gy1 = bnds[i]
        with np.errstate(invalid="ignore"):
            cand = (
                (bnds[:, 0] <= gx0 + _eps) & (bnds[:, 1] <= gy0 + _eps)
                & (bnds[:, 2] >= gx1 - _eps) & (bnds[:, 3] >= gy1 - _eps)
            )
        cand[i] = False
        absorbed = False
        for j in np.nonzero(cand)[0]:
            h = parts[j]
            if covers(h, g) and not (j > i and covers(g, h)):
                absorbed = True
                break
        if not absorbed:
            kept.append(g)
            kept_idx.append(i)
    # remaining parts must have non-overlapping interiors to collect exactly
    kb = bnds[kept_idx] if kept_idx else np.empty((0, 4))
    for i in range(len(kept)):
        with np.errstate(invalid="ignore"):
            ov = (
                (kb[:, 0] <= kb[i, 2] + _eps) & (kb[i, 0] <= kb[:, 2] + _eps)
                & (kb[:, 1] <= kb[i, 3] + _eps) & (kb[i, 1] <= kb[:, 3] + _eps)
            )
        for j in range(i + 1, len(kept)):
            if not ov[j]:
                continue
            a, b = kept[i], kept[j]
            if interiors_intersect(a, b):
                ra, rb = _axis_rect(a), _axis_rect(b)
                if ra and rb:
                    continue  # rect pair resolved below
                if a.dimensions() == 2 and b.dimensions() == 2:
                    # grow the full overlapping-areal cluster and union it
                    # in ONE multi-piece pass — the old pair-merge restarted
                    # the whole fold once per overlap (r5)
                    comp = _areal_cluster(kept, kb, i, j, _eps)
                    cluster = [kept[k] for k in comp]
                    merged_pair = _union_areal_cluster(cluster, srid)
                    rest = [g for k2, g in enumerate(kept) if k2 not in comp]
                    return union_all(rest + [merged_pair], grid_size)
                # mixed line/polygon overlap: the union is the polygon plus
                # the line's strictly-exterior pieces (GEOS collection
                # semantics); line/line overlap dissolves the collinear
                # common runs (r5 — both previously raised)
                dims = (a.dimensions(), b.dimensions())
                if dims in ((1, 2), (2, 1)):
                    line, poly = (a, b) if dims == (1, 2) else (b, a)
                    outside = _line_minus_polygon(line, poly)
                    rest = [g for g in kept if g is not a and g is not b]
                    rest.append(poly)
                    if not outside.is_empty():
                        rest.append(outside)
                    return union_all(rest, grid_size) if len(rest) > 1 else rest[0]
                if dims == (1, 1):
                    # GEOS lineal union = node + dissolve: b's linework plus
                    # a's collinear-exclusive remainder, both NODED at every
                    # mutual contact so the surviving pieces pairwise only
                    # touch at endpoints (the collect invariant; also what
                    # stops this recursion)
                    amb = _line_minus_line(a, b)
                    a_segs = _lineal_edges(amb)
                    b_segs = _lineal_edges(b)
                    pieces: list[np.ndarray] = []
                    for ch in _decompose(b).lines:
                        pieces.extend(_node_chain_at_contacts(ch, a_segs))
                    for ch in _decompose(amb).lines:
                        pieces.extend(_node_chain_at_contacts(ch, b_segs))
                    merged_line = _lines_result(pieces, srid)
                    rest = [g for g in kept if g is not a and g is not b]
                    rest.append(merged_line)
                    return union_all(rest, grid_size) if len(rest) > 1 else rest[0]
                raise NotImplementedError(
                    f"union of overlapping {a.type_name}/{b.type_name} (non-areal)"
                )
    # merge any overlapping rectangle clusters via slab union
    rect_idx = [i for i, g in enumerate(kept) if _axis_rect(g)]
    overlapping_rects = set()
    for ii in range(len(rect_idx)):
        for jj in range(ii + 1, len(rect_idx)):
            a, b = kept[rect_idx[ii]], kept[rect_idx[jj]]
            if interiors_intersect(a, b):
                overlapping_rects.add(rect_idx[ii])
                overlapping_rects.add(rect_idx[jj])
    if overlapping_rects:
        merged = rectangles_union([_axis_rect(kept[i]) for i in sorted(overlapping_rects)], srid)
        rest = [g for i, g in enumerate(kept) if i not in overlapping_rects]
        if not rest:
            return merged
        kept = rest + _flatten_parts(merged)
    if len(kept) == 1:
        return kept[0].copy()
    return collect(kept, srid=srid, dissolve=True)


def intersection_all(geoms, grid_size: float | None = None) -> Geometry:
    """Left fold of intersection (reference: expressions.rs:901-914)."""
    gs = _nonnull(geoms)
    if not gs:
        return empty_collection()
    acc = gs[0].copy()
    for g in gs[1:]:
        acc = intersection(acc, g, grid_size)
    return acc


def difference_all(geoms, grid_size: float | None = None) -> Geometry:
    """Order-dependent left fold (reference: expressions.rs:873-886).
    Caller must supply rows in deterministic order."""
    gs = _nonnull(geoms)
    if not gs:
        return empty_collection()
    acc = gs[0].copy()
    for g in gs[1:]:
        acc = difference(acc, g, grid_size)
    return acc


def symmetric_difference_all(geoms, grid_size: float | None = None) -> Geometry:
    gs = _nonnull(geoms)
    if not gs:
        return empty_collection()
    acc = gs[0].copy()
    for g in gs[1:]:
        acc = symmetric_difference(acc, g, grid_size)
    return acc


_SUPERTYPE = {
    GeometryType.Point: GeometryType.MultiPoint,
    GeometryType.LineString: GeometryType.MultiLineString,
    GeometryType.Polygon: GeometryType.MultiPolygon,
}


def collect(geoms, into: int | None = None, srid: int | None = None, dissolve: bool = False) -> Geometry:
    """Gather into Multi*/GeometryCollection with supertype inference
    (reference: functions.rs:1238-1276)."""
    gs = _nonnull(list(geoms))
    if srid is None:
        srid = gs[0].srid if gs else 0
    if into is None:
        kinds = {g.type_id for g in gs}
        if kinds == {GeometryType.Point}:
            into = GeometryType.MultiPoint
        elif kinds == {GeometryType.LineString}:
            into = GeometryType.MultiLineString
        elif kinds == {GeometryType.Polygon}:
            into = GeometryType.MultiPolygon
        elif kinds <= {GeometryType.Polygon, GeometryType.CurvePolygon}:
            into = GeometryType.MultiSurface
        elif kinds <= {GeometryType.LineString, GeometryType.CircularString,
                       GeometryType.CompoundCurve}:
            into = GeometryType.MultiCurve
        else:
            into = GeometryType.GeometryCollection
    members: list[Geometry] = []
    for g in gs:
        if dissolve and g.type_id in (
            GeometryType.MultiPoint,
            GeometryType.MultiLineString,
            GeometryType.MultiPolygon,
            GeometryType.MultiCurve,
            GeometryType.MultiSurface,
        ) and into != GeometryType.GeometryCollection:
            members.extend(s.copy() for s in (g.geoms or []))
        else:
            members.append(g.copy())
    has_z = any(m.has_z for m in members)
    return Geometry(into, srid=srid, has_z=has_z, geoms=members)


def unary_union(g: Geometry, grid_size: float | None = None) -> Geometry:
    """Per-row union of a collection's parts (reference: functions.rs:1156-1168)."""
    if g.geoms is not None:
        return union_all(list(g.geoms), grid_size)
    return g.copy()


def _snap_to_grid(g: Geometry, grid_size: float) -> Geometry:
    def f(arr: np.ndarray) -> np.ndarray:
        out = arr.copy()
        out[:, :2] = np.round(arr[:, :2] / grid_size) * grid_size
        return out

    return g.map_coords(f)
