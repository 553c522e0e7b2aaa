"""Constructive / editing operations and elementwise set ops.

Reference sections: §2.5 constructive (functions.rs:1278-1698), §2.6 CRS,
binary set ops (functions.rs:1096-1192), cast/multi (functions.rs:61-177,
771-792).
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column

from polars_st_spark.functions.factory import (
    arrow_series_udf,
    binary_geom,
    col_or_lit,
    geom_arg,
    unary_geom,
    spark_dt,
)
from polars_st_spark.geo import algos, setops
from polars_st_spark.geo.types import Geometry, GeometryType
from polars_st_spark.geo.wkb import from_ewkb, to_ewkb

__all__ = [
    "st_centroid", "st_center", "st_point_on_surface", "st_convex_hull",
    "st_envelope", "st_boundary", "st_simplify", "st_segmentize",
    "st_remove_repeated_points", "st_reverse", "st_flip_coordinates",
    "st_force_2d", "st_force_3d", "st_affine_transform", "st_translate",
    "st_rotate", "st_scale", "st_skew", "st_buffer", "st_offset_curve",
    "st_clip_by_rect", "st_snap", "st_shortest_line", "st_line_merge",
    "st_interpolate", "st_extract_unique_points",
    "st_minimum_rotated_rectangle", "st_make_valid", "st_normalize",
    "st_multi", "st_union", "st_intersection", "st_difference",
    "st_symmetric_difference", "st_unary_union", "st_set_srid", "st_to_srid",
    "st_cast", "st_precision", "st_set_precision", "st_delaunay_triangles",
    "st_voronoi_polygons", "st_coverage_union", "st_node", "st_build_area",
    "st_polygonize", "st_concave_hull", "st_shared_paths",
    "st_disjoint_subset_union",
]


def _u(fn):
    def outer(col) -> Column:
        return unary_geom(fn)(col_or_lit(col))

    return outer


def _centroid_udf():
    """UDF builder behind :func:`st_centroid` — also the object
    ``register_sql_functions`` installs, so SQL and Column API share the
    exact batch dispatch."""
    from polars_st_spark.geo import ragged
    from polars_st_spark.geo.wkb import from_ewkb, points_to_ewkb, to_ewkb

    def _emit(s, cx, cy, ok, null_mask, srid):
        okm = ok & ~null_mask
        out = np.empty(len(s), dtype=object)
        out[:] = None
        if okm.any():
            enc = points_to_ewkb(cx[okm], cy[okm], srid=srid)
            for j, i in enumerate(np.flatnonzero(okm)):
                out[i] = enc[j]
        for i in np.flatnonzero(~okm & ~null_mask):
            out[i] = to_ewkb(algos.centroid(from_ewkb(bytes(s.iloc[i]))))
        return pd.Series(out, dtype=object)

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        rp = ragged.parse_polygonal(s)
        if rp is not None and rp.srid_uniform:
            cx, cy, ok = ragged.centroid(rp)
            return _emit(s, cx, cy, ok, rp.null_mask, rp.srid)
        rl = ragged.parse_lineal(s)
        if rl is not None and rl.srid_uniform:
            # r4b: length-weighted line centroids, vectorized
            cx, cy, ok = ragged.centroid_lines(rl)
            return _emit(s, cx, cy, ok, rl.null_mask, rl.srid)
        mp = ragged.parse_multipoints(s)
        if mp is not None and mp.srid_uniform:
            # r4c: point-mean centroids for MultiPoint batches
            cx, cy, ok = ragged.centroid_points(mp)
            return _emit(s, cx, cy, ok, mp.null_mask, mp.srid)
        return pd.Series(
            [None if b is None else to_ewkb(algos.centroid(from_ewkb(bytes(b)))) for b in s],
            dtype=object,
        )

    return udf


def st_centroid(col) -> Column:
    """Area-weighted centroid (reference: functions.rs:1330-1336). Ragged
    (Multi)Polygon batches — holes, varying vertex counts — compute via the
    CSR moment formulas (geo/ragged.py) and batch-encode the result points;
    degenerate/zero-area rows fall back to the scalar length/point centroid."""
    from polars_st_spark.functions.fuse import tagged

    return tagged(_centroid_udf(), col_or_lit(col))


st_center = _u(algos.center)
st_point_on_surface = _u(algos.point_on_surface)


def _convex_hull_udf():
    from polars_st_spark.geo import ragged
    from polars_st_spark.geo.wkb import from_ewkb, to_ewkb

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        fast = ragged.convex_hull_batch(s.to_numpy())
        if fast is not None:
            return pd.Series(fast, dtype=object)
        return pd.Series(
            [None if b is None else to_ewkb(algos.convex_hull(from_ewkb(bytes(b))))
             for b in s], dtype=object)

    return udf


def st_convex_hull(col) -> Column:
    """Monotone-chain convex hull. r5 batch fast path: polygonal / lineal /
    multipoint CSR batches run the LEVEL-SYNCHRONOUS monotone chain
    (geo/ragged.convex_hull_rows — the scalar arithmetic per row, so output
    bytes are identical) with vectorized EWKB assembly; mixed/Z/M batches
    fall back per-row."""
    return _convex_hull_udf()(col_or_lit(col))


def st_concave_hull(col, ratio: float = 0.0, allow_holes: bool = False) -> Column:
    """(reference: functions.rs:1356-1362)"""
    return unary_geom(lambda g: algos.concave_hull(g, ratio, allow_holes))(col_or_lit(col))


def st_shared_paths(col, other) -> Column:
    """(reference: functions.rs:1757-1763)"""
    udf, oc = binary_geom(algos.shared_paths, geom_arg(other))
    return udf(col_or_lit(col)) if oc is None else udf(col_or_lit(col), oc)


def st_disjoint_subset_union(col, grid_size: float | None = None) -> Column:
    """Union optimized for mostly-disjoint inputs; falls back to unary_union
    (reference: expressions.rs:962-969, functions.rs:1170-1176)."""
    return unary_geom(lambda g: setops.unary_union(g, grid_size))(col_or_lit(col))
def _envelope_udf():
    from polars_st_spark.geo import ragged

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        fast = ragged.envelope_batch(s.to_numpy())
        if fast is not None:
            return pd.Series(fast, dtype=object)
        return pd.Series(
            [None if b is None else to_ewkb(algos.envelope(from_ewkb(bytes(b))))
             for b in s], dtype=object)

    return udf


def st_envelope(col) -> Column:
    """Axis-aligned bounding geometry. r5 batch fast path: cached per-row
    CSR bounds classify to point / degenerate-line / rect groups, each
    written by its batched encoder (geo/ragged.envelope_batch) —
    bit-identical to the scalar."""
    return _envelope_udf()(col_or_lit(col))


def _boundary_udf():
    from polars_st_spark.geo import ragged

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        fast = ragged.boundary_polygonal_batch(s.to_numpy())
        if fast is not None:
            return pd.Series(fast, dtype=object)
        return pd.Series(
            [None if b is None else to_ewkb(algos.boundary(from_ewkb(bytes(b))))
             for b in s], dtype=object)

    return udf


def st_boundary(col) -> Column:
    """GEOS boundary. r5 batch fast path for polygonal batches: rings
    re-labelled as LineString chains through the batched lineal writer
    (geo/ragged.boundary_polygonal_batch, bit-identical); lineal and
    other inputs keep the per-row mod-2 endpoint path."""
    return _boundary_udf()(col_or_lit(col))


st_force_2d = _u(algos.force_2d)


def _reverse_udf():
    from polars_st_spark.geo import ragged

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        fast = ragged.reverse_units_batch(s.to_numpy())
        if fast is not None:
            return pd.Series(fast, dtype=object)
        return pd.Series(
            [None if b is None else to_ewkb(algos.reverse_geom(from_ewkb(bytes(b))))
             for b in s], dtype=object)

    return udf


def st_reverse(col) -> Column:
    """Reverse vertex order per ring/chain. r5 batch fast path: a pure
    per-unit index reversal byte-spliced over the original EWKB
    (geo/ragged.reverse_units_batch) — bit-identical, no per-row objects."""
    return _reverse_udf()(col_or_lit(col))
st_extract_unique_points = _u(algos.extract_unique_points)
st_minimum_rotated_rectangle = _u(algos.minimum_rotated_rectangle)
st_make_valid = _u(algos.make_valid)
st_normalize = _u(algos.normalize_geom)
st_multi = _u(algos.multi)


def _simplify_udf(tolerance: float, preserve_topology: bool = True):
    from polars_st_spark.geo import ragged
    from polars_st_spark.geo.wkb import from_ewkb, to_ewkb

    tol = float(tolerance)
    pt = preserve_topology

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        fast = ragged.simplify_batch(s.to_numpy(), tol)
        if fast is not None:
            return pd.Series(fast, dtype=object)
        return pd.Series(
            [None if b is None else
             to_ewkb(algos.simplify(from_ewkb(bytes(b)), tol, pt))
             for b in s], dtype=object)

    return udf


def st_simplify(col, tolerance: float, preserve_topology: bool = True) -> Column:
    """Douglas–Peucker. r5 batch fast path: uniform-SRID 2-D polygonal or
    lineal CSR batches compute ONE vectorized keep-mask over every
    ring/chain at once (geo/ragged.dp_keep_mask — the scalar argmax/
    tie-break arithmetic, so bytes are identical) and assemble EWKB rows
    without per-row geometry objects; other shapes fall back per-row."""
    return _simplify_udf(tolerance, preserve_topology)(col_or_lit(col))


def _segmentize_udf(max_segment_length: float):
    from polars_st_spark.geo import ragged

    ml = float(max_segment_length)
    if ml <= 0:
        raise ValueError("max_segment_length must be positive")

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        fast = ragged.segmentize_batch(s.to_numpy(), ml)
        if fast is not None:
            return pd.Series(fast, dtype=object)
        return pd.Series(
            [None if b is None else to_ewkb(algos.segmentize(from_ewkb(bytes(b)), ml))
             for b in s], dtype=object)

    return udf


def st_segmentize(col, max_segment_length: float) -> Column:
    """r5 batch fast path: vectorized per-segment subdivision over ragged
    polygonal/lineal batches (geo/ragged.segmentize_batch — linspace-exact
    params, bit-identical to the scalar)."""
    return _segmentize_udf(max_segment_length)(col_or_lit(col))


def _remove_repeated_udf(tolerance: float = 0.0):
    from polars_st_spark.geo import ragged

    tol = float(tolerance)

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        vals = s.to_numpy()
        fast = ragged.remove_repeated_batch(vals, tol)
        if fast is not None:
            out, need = fast
            for i in np.nonzero(need)[0]:
                b = vals[i]
                out[i] = None if b is None else to_ewkb(
                    algos.remove_repeated_points(from_ewkb(bytes(b)), tol))
            return pd.Series(out, dtype=object)
        return pd.Series(
            [None if b is None else
             to_ewkb(algos.remove_repeated_points(from_ewkb(bytes(b)), tol))
             for b in s], dtype=object)

    return udf


def st_remove_repeated_points(col, tolerance: float = 0.0) -> Column:
    """r5 batch fast path: one vectorized consecutive-distance keep-mask
    per ring/chain + masked EWKB assembly (geo/ragged.remove_repeated_
    batch, bit-identical); rows hitting the scalar's take-first-min_n
    collapse rule run scalar inside the same UDF."""
    return _remove_repeated_udf(tolerance)(col_or_lit(col))


def st_force_3d(col, z: float = 0.0) -> Column:
    return unary_geom(lambda g: algos.force_3d(g, z))(col_or_lit(col))


def _point_affine_udf(make_xy, fallback_fn, origin=None):
    """Pandas UDF applying an elementwise coordinate map to whole batches.

    Fast paths, in order:
    1. uniform 2-D point batch — ``make_xy(x, y)`` on the stacked arrays,
       one-shot re-encode (``make_xy=None`` = identity on bare points:
       rotate/scale/skew about the point's own center);
    2. ragged (Multi)Polygon / (Multi)LineString batch (r4b) — parse to CSR
       (geo/ragged.py), map the flat coordinate matrix, splice the new
       coordinates over the original bytes (headers/counts reused verbatim,
       O(rings) Python). ``origin="center"``/``"centroid"`` ops get their
       per-ROW origins from the ragged bounds/centroid kernels (bit-identical
       to the scalar ``_origin_xy``) expanded to per-vertex arrays, so even
       own-center rotations of mixed polygon batches stay vectorized;
    3. per-row scalar fallback for everything else (Z/M, collections).

    The numpy expressions mirror geo/algos.py exactly — same elementwise
    ops, same order — so all paths agree bitwise."""
    from polars_st_spark.geo import ragged
    from polars_st_spark.geo.arrowwkb import uniform_batch_pa
    from polars_st_spark.geo.wkb import header_info, points_to_ewkb

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        if not s.isna().any() and len(s):
            fast = uniform_batch_pa(s)
            if fast is not None and fast[0] == "point2d":
                if make_xy is None or origin in ("center", "centroid"):
                    return s  # affine about a point's own center = identity
                srid = header_info(bytes(s.iloc[0]))[3]
                x2, y2 = make_xy(fast[1], fast[2])
                return pd.Series(points_to_ewkb(
                    np.asarray(x2, dtype=np.float64),
                    np.asarray(y2, dtype=np.float64), srid=srid))
        if make_xy is not None and len(s):
            vals = s.to_numpy()
            parsed = ragged.parse_polygonal(vals)
            is_poly = parsed is not None
            if parsed is None:
                parsed = ragged.parse_lineal(vals)
            if parsed is not None and len(parsed.coords):
                x = parsed.coords[:, 0]
                y = parsed.coords[:, 1]
                if origin in ("center", "centroid"):
                    counts = np.diff(parsed.row_start)
                    if origin == "center":
                        b = ragged.bounds(parsed)
                        ox_r = (b[:, 0] + b[:, 2]) / 2.0
                        oy_r = (b[:, 1] + b[:, 3]) / 2.0
                        ok = True
                    else:
                        if not is_poly:
                            ok = False  # line centroid is length-weighted
                        else:
                            ox_r, oy_r, okm = ragged.centroid(parsed)
                            ok = bool(np.all(okm | (counts == 0)))
                    if ok:
                        ox = np.repeat(np.nan_to_num(ox_r), counts)
                        oy = np.repeat(np.nan_to_num(oy_r), counts)
                        x2, y2 = make_xy(x, y, ox, oy)
                        return pd.Series(ragged.splice_coords(
                            vals, parsed, np.column_stack([x2, y2])), dtype=object)
                else:
                    x2, y2 = make_xy(x, y)
                    return pd.Series(ragged.splice_coords(
                        vals, parsed, np.column_stack([x2, y2])), dtype=object)
        return pd.Series(
            [None if b is None else to_ewkb(fallback_fn(from_ewkb(bytes(b)))) for b in s],
            dtype=object,
        )

    return udf


def _origin_const(origin):
    """(ox, oy) when the origin is a constant coordinate, 'self' when it is
    the geometry's own center/centroid (identity for bare points), else None."""
    if isinstance(origin, (tuple, list)) and len(origin) >= 2:
        return float(origin[0]), float(origin[1])
    if origin in ("center", "centroid"):
        return "self"
    return None


def _flip_udf():
    return _point_affine_udf(lambda x, y: (y, x), algos.flip_coordinates)


def st_flip_coordinates(col) -> Column:
    """Swap x/y — batch byte-splice on point/polygon/line batches."""
    return _flip_udf()(col_or_lit(col))


def st_affine_transform(col, matrix) -> Column:
    m = [float(v) for v in matrix]
    if len(m) == 6:
        a, b, d, e, xoff, yoff = m
    elif len(m) == 12:
        a, b, _c, d, e, _f, _g, _h, _i, xoff, yoff, _z = m
    else:
        a = None
    mk = None
    if a is not None:
        mk = lambda x, y: (a * x + b * y + xoff, d * x + e * y + yoff)  # noqa: E731
    fb = lambda g: algos.affine_transform(g, matrix)  # noqa: E731
    if mk is None:
        return unary_geom(fb)(col_or_lit(col))
    return _point_affine_udf(mk, fb)(col_or_lit(col))


def _translate_udf(x: float = 0.0, y: float = 0.0, z: float = 0.0):
    return _point_affine_udf(
        lambda px, py: (px + x, py + y),
        lambda g: algos.translate(g, x, y, z),
    )


def st_translate(col, x: float = 0.0, y: float = 0.0, z: float = 0.0) -> Column:
    from polars_st_spark.functions.fuse import tagged

    return tagged(_translate_udf(x, y, z), col_or_lit(col))


def _rotate_udf(angle: float, origin="center"):
    o = _origin_const(origin)
    fb = lambda g: algos.rotate(g, angle, origin)  # noqa: E731
    rad = math.radians(angle)
    ca, sa = math.cos(rad), math.sin(rad)
    if o == "self":
        def mk_self(x, y, ox, oy):
            dx, dy = x - ox, y - oy
            return ox + ca * dx - sa * dy, oy + sa * dx + ca * dy

        return _point_affine_udf(mk_self, fb, origin=origin)
    if o is not None:
        ox, oy = o

        def mk(x, y):
            dx, dy = x - ox, y - oy
            return ox + ca * dx - sa * dy, oy + sa * dx + ca * dy

        return _point_affine_udf(mk, fb)
    return unary_geom(fb)


def st_rotate(col, angle: float, origin="center") -> Column:
    """Angle in degrees (reference: functions.rs:1508-1548)."""
    return _rotate_udf(angle, origin)(col_or_lit(col))


def _scale_udf(x: float = 1.0, y: float = 1.0, z: float = 1.0, origin="center"):
    o = _origin_const(origin)
    fb = lambda g: algos.scale(g, x, y, z, origin)  # noqa: E731
    if o == "self":
        return _point_affine_udf(
            lambda px, py, ox, oy: (ox + x * (px - ox), oy + y * (py - oy)),
            fb, origin=origin,
        )
    if o is not None:
        ox, oy = o
        return _point_affine_udf(
            lambda px, py: (ox + x * (px - ox), oy + y * (py - oy)), fb
        )
    return unary_geom(fb)


def st_scale(col, x: float = 1.0, y: float = 1.0, z: float = 1.0, origin="center") -> Column:
    return _scale_udf(x, y, z, origin)(col_or_lit(col))


def _skew_udf(x: float = 0.0, y: float = 0.0, origin="center"):
    o = _origin_const(origin)
    fb = lambda g: algos.skew(g, x, y, origin)  # noqa: E731
    tx = math.tan(math.radians(x))
    ty = math.tan(math.radians(y))
    if o == "self":
        def mk_self(px, py, ox, oy):
            dx, dy = px - ox, py - oy
            return ox + dx + tx * dy, oy + ty * dx + dy

        return _point_affine_udf(mk_self, fb, origin=origin)
    if o is not None:
        ox, oy = o

        def mk(px, py):
            dx, dy = px - ox, py - oy
            return ox + dx + tx * dy, oy + ty * dx + dy

        return _point_affine_udf(mk, fb)
    return unary_geom(fb)


def st_skew(col, x: float = 0.0, y: float = 0.0, origin="center") -> Column:
    return _skew_udf(x, y, origin)(col_or_lit(col))


def _buffer_kernels(quad_segs: int, cap_style: str, join_style: str,
                    mitre_limit: float, single_sided: bool):
    """(per-row kernel, batch fast path) shared by the constant-distance,
    per-row-distance, and SQL-registered buffer UDFs."""
    from polars_st_spark.geo import ragged
    from polars_st_spark.geo.arrowwkb import uniform_batch_pa
    from polars_st_spark.geo.wkb import header_info

    qs = int(quad_segs)

    def _scalar(g, d):
        return to_ewkb(algos.buffer(
            g, float(d), qs, cap_style, join_style, mitre_limit, single_sided))

    can_batch = (not single_sided) and cap_style in ("round", "square")
    # r12 line lane (geo/bufferrows.py): round joins with flat/square caps
    # go through _buffer_general's piece-union pipeline, batched per row.
    # round+round is excluded — the scalar intercepts it with the exact
    # arc buffer (curves.arc_buffer_exact), which the batch does not model.
    can_batch_lines = (
        (not single_sided) and join_style == "round"
        and cap_style in ("flat", "square"))

    def _lines_fast(s, dv):
        from polars_st_spark.geo import bufferrows

        res = bufferrows.buffer_lines_batch(
            s.to_numpy(), dv, qs, cap_style)
        if res is None:
            return None
        outv, needv = res
        if needv.any():
            vals = s.to_numpy()
            for i in np.nonzero(needv)[0]:
                b = vals[i]
                outv[i] = None if b is None else _scalar(
                    from_ewkb(bytes(b)), float(dv[i]))
        return pd.Series(outv, dtype=object)

    def _fast(s, dv):
        if not len(s):
            return None
        if can_batch_lines:
            lineal = _lines_fast(s, dv)
            if lineal is not None:
                return lineal
        if not can_batch or s.isna().any():
            return None
        fast = uniform_batch_pa(s)
        if fast is None or fast[0] != "point2d":
            return None
        x, y = fast[1], fast[2]
        srid = header_info(bytes(s.iloc[0]))[3]
        m = len(x)
        if cap_style == "round":
            n = max(4, 4 * qs)
            ang = np.linspace(0, 2 * math.pi, n, endpoint=False)
            ca, sa = np.cos(ang), np.sin(ang)
            rx = x[:, None] + dv[:, None] * ca[None, :]
            ry = y[:, None] + dv[:, None] * sa[None, :]
            rxc = np.concatenate([rx, rx[:, :1]], axis=1)
            ryc = np.concatenate([ry, ry[:, :1]], axis=1)
            npts = n + 1
        else:  # square: the scalar's exact vertex order
            rxc = np.column_stack([x - dv, x + dv, x + dv, x - dv, x - dv])
            ryc = np.column_stack([y - dv, y - dv, y + dv, y + dv, y - dv])
            npts = 5
        coords = np.empty((m * npts, 2))
        coords[:, 0] = rxc.ravel()
        coords[:, 1] = ryc.ravel()
        idx = np.arange(m, dtype=np.int64)
        return pd.Series(ragged.encode_polygonal_rows(
            m, np.full(m, 3, dtype=np.int64), idx, idx,
            np.full(m, npts, dtype=np.int64), coords, srid,
            np.zeros(m, dtype=bool)), dtype=object)

    return _scalar, _fast


def _buffer_udf(distance: float, quad_segs: int = 8, cap_style: str = "round",
                join_style: str = "round", mitre_limit: float = 5.0,
                single_sided: bool = False):
    """Constant-distance buffer UDF builder."""
    _scalar, _fast = _buffer_kernels(
        quad_segs, cap_style, join_style, mitre_limit, single_sided)
    dconst = float(distance)

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        if dconst > 0:
            out = _fast(s, np.full(len(s), dconst))
            if out is not None:
                return out
        return pd.Series(
            [None if b is None else _scalar(from_ewkb(bytes(b)), dconst)
             for b in s], dtype=object)

    return udf


def _buffer_pair_udf(quad_segs: int = 8, cap_style: str = "round",
                     join_style: str = "round", mitre_limit: float = 5.0,
                     single_sided: bool = False):
    """(geometry, per-row distance) buffer UDF builder."""
    _scalar, _fast = _buffer_kernels(
        quad_segs, cap_style, join_style, mitre_limit, single_sided)

    @arrow_series_udf("binary")
    def udf2(s: pd.Series, v: pd.Series) -> pd.Series:
        dv = v.to_numpy(dtype=np.float64, na_value=np.nan)
        if len(s) and not np.isnan(dv).any() and (dv > 0).all():
            out = _fast(s, dv)
            if out is not None:
                return out
        return pd.Series(
            [None if (b is None or pd.isna(x)) else _scalar(from_ewkb(bytes(b)), x)
             for b, x in zip(s, v)], dtype=object)

    return udf2


def st_buffer(col, distance, quad_segs: int = 8, cap_style: str = "round",
              join_style: str = "round", mitre_limit: float = 5.0,
              single_sided: bool = False) -> Column:
    """``distance`` is broadcastable like the reference's Expr parameter
    (functions.rs:1289-1300): a float applies to every row; a Column /
    column name buffers each row by its own distance.

    r5 batch fast path: uniform 2-D POINT batches with positive distances
    (the dominant buffer workload — points by radius) build their n-gon /
    square rings in one vectorized pass + batched EWKB assembly,
    bit-identical to the scalar ring arithmetic; everything else keeps the
    per-row kernel."""
    if not isinstance(distance, (Column, str)):
        return _buffer_udf(
            float(distance), quad_segs, cap_style, join_style, mitre_limit,
            single_sided)(col_or_lit(col))
    return _buffer_pair_udf(
        quad_segs, cap_style, join_style, mitre_limit, single_sided,
    )(col_or_lit(col), col_or_lit(distance))


def st_offset_curve(col, distance: float, quad_segs: int = 8,
                    join_style: str = "round", mitre_limit: float = 5.0) -> Column:
    return unary_geom(lambda g: algos.offset_curve(g, distance, quad_segs, join_style, mitre_limit))(col_or_lit(col))


def st_clip_by_rect(col, xmin: float, ymin: float, xmax: float, ymax: float) -> Column:
    """r12 batch fast path (guide §4.2): plain-POLYGON CSR batches run the
    level-synchronous SH kernel against the constant clip rect in one
    vectorized pass (geo/shclip.clip_rect_const_batch — identical halfplane
    order and arithmetic to the scalar, bytes asserted equal in
    tests/test_r12_clip_batch.py); empty/Multi/exotic rows and non-CSR
    batches keep the per-row scalar."""
    x0, y0, x1, y1 = float(xmin), float(ymin), float(xmax), float(ymax)

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        from polars_st_spark.geo import shclip as _shc

        vals = s.to_numpy()
        fast = _shc.clip_rect_const_batch(vals, x0, y0, x1, y1)
        if fast is None:
            return pd.Series(
                [None if b is None else
                 to_ewkb(setops.clip_by_rect(from_ewkb(bytes(b)), x0, y0, x1, y1))
                 for b in s], dtype=object)
        out, need = fast
        for i in np.nonzero(need)[0]:
            out[i] = to_ewkb(
                setops.clip_by_rect(from_ewkb(bytes(vals[i])), x0, y0, x1, y1))
        return pd.Series(out, dtype=object)

    return udf(col_or_lit(col))


def st_snap(col, other, tolerance) -> Column:
    """``tolerance`` broadcasts like the reference's ternary Expr parameter
    (arity.rs:119-172): float or per-row Column."""
    if isinstance(tolerance, (Column, str)):
        tol = col_or_lit(tolerance)
        og = geom_arg(other)
        other_is_col = isinstance(og, Column)
        const_g = None if other_is_col else og

        @arrow_series_udf("binary")
        def udf3(s1, s2, sv):
            from polars_st_spark.geo.wkb import decode_batch, to_ewkb as _enc
            import pandas as _pd

            g2s = decode_batch(s2) if other_is_col else [const_g] * len(s1)
            out = [
                None if a is None or b is None or _pd.isna(x)
                else _enc(algos.snap(a, b, float(x)))
                for a, b, x in zip(decode_batch(s1), g2s, sv)
            ]
            return _pd.Series(out, dtype=object)

        if other_is_col:
            return udf3(col_or_lit(col), og, tol)
        # constant other is closed over; the second input slot is unused —
        # rebind the geometry column so no extra data ships
        return udf3(col_or_lit(col), col_or_lit(col), tol)
    udf, oc = binary_geom(lambda a, b: algos.snap(a, b, tolerance), geom_arg(other))
    return udf(col_or_lit(col)) if oc is None else udf(col_or_lit(col), oc)


def st_shortest_line(col, other) -> Column:
    udf, oc = binary_geom(algos.shortest_line, geom_arg(other))
    return udf(col_or_lit(col)) if oc is None else udf(col_or_lit(col), oc)


def st_line_merge(col, directed: bool = False) -> Column:
    return unary_geom(lambda g: algos.line_merge(g, directed))(col_or_lit(col))


def st_interpolate(col, distance, normalized: bool = False) -> Column:
    """``distance`` is broadcastable (reference Expr parameter,
    functions.rs:1700-1717): float or per-row Column."""
    from polars_st_spark.functions.factory import unary_scalar_param
    from polars_st_spark.geo.wkb import to_ewkb as _enc

    return unary_scalar_param(
        lambda g, d: _enc(algos.line_interpolate_point(g, float(d), normalized)),
        "binary", distance,
    )(col)


# ----------------------------------------------------------------------
# Elementwise binary set ops (reference: functions.rs:1096-1192)
# ----------------------------------------------------------------------

def _b(fn):
    def outer(col, other, grid_size: float | None = None) -> Column:
        udf, oc = binary_geom(lambda a, b: fn(a, b, grid_size), geom_arg(other))
        return udf(col_or_lit(col)) if oc is None else udf(col_or_lit(col), oc)

    return outer


def _union_pair_udf(op: str, scalar_fn):
    """Two-geometry-column UDF builder for union / symmetric_difference —
    shared by the Column API and the SQL registry."""
    from polars_st_spark.geo import shclip as _shc
    from polars_st_spark.geo.wkb import from_ewkb as _fe, to_ewkb as _te

    @arrow_series_udf("binary")
    def udf2(s1: pd.Series, s2: pd.Series) -> pd.Series:
        v1, v2 = s1.to_numpy(), s2.to_numpy()
        fast = _shc.union_symdiff_disjoint_batch(v1, v2, op)
        if fast is not None:
            out, need = fast
            for i in np.nonzero(need)[0]:
                b1, b2 = v1[i], v2[i]
                out[i] = None if (b1 is None or b2 is None) else _te(
                    scalar_fn(_fe(bytes(b1)), _fe(bytes(b2)), None))
            return pd.Series(out, dtype=object)
        return pd.Series(
            [None if (b1 is None or b2 is None) else _te(
                scalar_fn(_fe(bytes(b1)), _fe(bytes(b2)), None))
             for b1, b2 in zip(v1, v2)], dtype=object)

    return udf2


def _union_b(op: str, scalar_fn):
    """st_union / st_symmetric_difference with the r5 disjoint fast lane
    (geo/shclip.union_symdiff_disjoint_batch): disjoint plain-Polygon
    pairs collect to MultiPolygon(a, b) whole-batch; empty sides pass the
    other side's bytes through; everything else runs the scalar row-wise
    inside the same UDF."""

    def outer(col, other, grid_size: float | None = None) -> Column:
        oc = geom_arg(other)
        if grid_size is not None or not isinstance(oc, Column):
            udf, occ = binary_geom(lambda a, b: scalar_fn(a, b, grid_size), oc)
            return udf(col_or_lit(col)) if occ is None else udf(col_or_lit(col), occ)
        return _union_pair_udf(op, scalar_fn)(col_or_lit(col), oc)

    return outer


st_union = _union_b("union", setops.union)


def _clip_pair_udf(mode: str, scalar_fn):
    """Two-geometry-column UDF builder for intersection / difference —
    shared by the Column API and the SQL registry."""
    from polars_st_spark.geo import ragged as _rg
    from polars_st_spark.geo import shclip as _shc
    from polars_st_spark.geo.wkb import from_ewkb as _fe, to_ewkb as _te

    @arrow_series_udf("binary")
    def udf2(s1: pd.Series, s2: pd.Series) -> pd.Series:
        v1, v2 = s1.to_numpy(), s2.to_numpy()
        if mode == "in":
            # uniform axis-rect pairs: min/max closed form (bbox clip)
            rfast = _rg.rect_pair_intersection_batch(v1, v2)
            if rfast is not None:
                return pd.Series(rfast, dtype=object)
        fast = _rg.clip_line_poly_batch(v1, v2, mode)
        if fast is None and mode == "in":
            # polygon ∩ line order: same clip, polygon side's SRID
            fast = _rg.clip_line_poly_batch(v2, v1, "in",
                                            use_poly_srid=True)
        if fast is None:
            # polygon × polygon: SH convex lane + disjoint fast lanes
            fast = _shc.clip_poly_poly_batch(v1, v2, mode)
        if fast is None and mode == "out":
            # uniformly lower-dimensional right side: a.copy() rows
            fast = _shc.difference_lower_dim_batch(v1, v2)
        if fast is not None:
            out, need = fast
            for i in np.nonzero(need)[0]:
                b1, b2 = v1[i], v2[i]
                out[i] = None if (b1 is None or b2 is None) else _te(
                    scalar_fn(_fe(bytes(b1)), _fe(bytes(b2)), None))
            return pd.Series(out, dtype=object)
        return pd.Series(
            [None if (b1 is None or b2 is None) else _te(
                scalar_fn(_fe(bytes(b1)), _fe(bytes(b2)), None))
             for b1, b2 in zip(v1, v2)], dtype=object)

    return udf2


def _clip_b(mode: str, scalar_fn):
    """Binary setop wrapper with the r5 CSR batch path for row-paired
    line×polygon pairs (geo/ragged.clip_line_poly_batch — bit-identical to
    the scalar dispatch; rows the scalar routes through special paths run
    scalar row-wise inside the same UDF). Other shapes fall back whole-
    batch to the per-row kernel."""

    def outer(col, other, grid_size: float | None = None) -> Column:
        oc = geom_arg(other)
        if grid_size is not None or not isinstance(oc, Column):
            udf, occ = binary_geom(lambda a, b: scalar_fn(a, b, grid_size), oc)
            return udf(col_or_lit(col)) if occ is None else udf(col_or_lit(col), occ)
        return _clip_pair_udf(mode, scalar_fn)(col_or_lit(col), oc)

    return outer


st_intersection = _clip_b("in", setops.intersection)
st_difference = _clip_b("out", setops.difference)
st_symmetric_difference = _union_b("symdiff", setops.symmetric_difference)


def st_unary_union(col, grid_size: float | None = None) -> Column:
    return unary_geom(lambda g: setops.unary_union(g, grid_size))(col_or_lit(col))


# ----------------------------------------------------------------------
# CRS ops (reference: §2.6)
# ----------------------------------------------------------------------

def _set_srid_udf(srid: int):
    new_srid = struct.pack("<I", srid)

    def patch(b) -> bytes | None:
        if b is None:
            return None
        bb = bytes(b)
        if bb[0] != 1:  # big-endian: rewrite via the codec
            return to_ewkb(from_ewkb(bb).with_srid(srid))
        (raw,) = struct.unpack_from("<I", bb, 1)
        has = bool(raw & 0x20000000)
        if srid:
            if has:
                return bb[:5] + new_srid + bb[9:]
            return bb[:1] + struct.pack("<I", raw | 0x20000000) + new_srid + bb[5:]
        if not has:
            return bb
        return bb[:1] + struct.pack("<I", raw & ~0x20000000) + bb[9:]

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        return s.map(patch)

    return udf


def st_set_srid(col, srid: int) -> Column:
    """Header patch only (reference: functions.rs:437-443): pure byte
    surgery on the top-level EWKB header — set/replace/strip the SRID flag
    and field without building geometry objects. Nested collection children
    don't serialize SRIDs (PostGIS convention), so the top-level patch is
    the complete operation; geometries whose layout needs real restructuring
    (big-endian input) fall back to decode/encode."""
    return _set_srid_udf(srid)(col_or_lit(col))


# Web-Mercator <-> WGS84 closed forms (public formulas, EPSG 3857/4326).
_R = 6378137.0


def _wgs84_to_webmerc(arr: np.ndarray) -> np.ndarray:
    out = arr.copy()
    out[:, 0] = np.radians(arr[:, 0]) * _R
    out[:, 1] = np.log(np.tan(np.pi / 4 + np.radians(arr[:, 1]) / 2)) * _R
    return out


def _webmerc_to_wgs84(arr: np.ndarray) -> np.ndarray:
    out = arr.copy()
    out[:, 0] = np.degrees(arr[:, 0] / _R)
    out[:, 1] = np.degrees(2 * np.arctan(np.exp(arr[:, 1] / _R)) - np.pi / 2)
    return out


_TRANSFORMS = {
    (4326, 3857): _wgs84_to_webmerc,
    (3857, 4326): _webmerc_to_wgs84,
}

# ---- UTM via the Krüger series (public formulas: Karney, "Transverse
# Mercator with an accuracy of a few nanometers", J. Geod. 85, 2011).
# WGS84 UTM zones: EPSG 326xx (north) / 327xx (south).
_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996
_UTM_FE = 500000.0
_UTM_FN_S = 10000000.0

def _utm_zone(srid: int) -> tuple[int, bool] | None:
    """(zone, is_north) for WGS84 UTM EPSG codes, else None."""
    if 32601 <= srid <= 32660:
        return srid - 32600, True
    if 32701 <= srid <= 32760:
        return srid - 32700, False
    return None


def _wgs84_to_utm(zone: int, north: bool):
    return _tm_forward_fn(
        _WGS84_A, _WGS84_F, _UTM_K0, 0.0, zone * 6 - 183.0,
        _UTM_FE, 0.0 if north else _UTM_FN_S,
    )


def _utm_to_wgs84(zone: int, north: bool):
    return _tm_inverse_fn(
        _WGS84_A, _WGS84_F, _UTM_K0, 0.0, zone * 6 - 183.0,
        _UTM_FE, 0.0 if north else _UTM_FN_S,
    )


# ---- Generic Transverse Mercator: any ellipsoid / scale / natural origin,
# plus Helmert 7-parameter datum shifts. Same Krüger series as the WGS84 UTM
# path (Karney 2011, public formulas) with coefficients computed per
# ellipsoid; parameters from the public EPSG registry. This matches the
# reference's any-EPSG reprojection capability (functions.rs:1868-1939) for
# the high-traffic TM family: 27700 (OSGB36 British National Grid, Airy 1830
# with the EPSG:1314 Helmert shift), 25828-25838 (ETRS89 UTM) and
# 26901-26923 (NAD83 UTM) — ETRS89/NAD83 are treated as coincident with
# WGS84 (null datum shift, metre-level, the standard grid-free convention).

_ELLIPSOIDS = {
    "WGS84": (6378137.0, 1 / 298.257223563),
    "GRS80": (6378137.0, 1 / 298.257222101),
    "AIRY1830": (6377563.396, 1 / 299.3249646),
    "BESSEL1841": (6377397.155, 1 / 299.1528128),
    "EVEREST1967": (6377298.556, 1 / 300.8017),
    # International 1924 (Hayford) — ED50 and most mid-century European grids
    "INTL1924": (6378388.0, 1 / 297.0),
    # Clarke 1866 — NAD27 (f from the defining a/b pair 6378206.4/6356583.8)
    "CLARKE1866": (6378206.4, (6378206.4 - 6356583.8) / 6378206.4),
    # Krassowsky 1940 — Pulkovo 1942 Gauss-Krüger grids
    "KRASSOWSKY1940": (6378245.0, 1 / 298.3),
}

# Helmert position-vector params local-datum -> WGS84 (EPSG method 9606):
# (tx, ty, tz metres, rx, ry, rz arc-seconds, scale ppm).
# OSGB36: EPSG transformation 1314 (~2 m accuracy, the grid-free standard).
# DHDN: EPSG transformation 1777 (Germany west, ~3 m).
_DATUM_TO_WGS84 = {
    "OSGB36": ("AIRY1830", 446.448, -125.157, 542.060, 0.1502, 0.2470, 0.8421, -20.4894),
    "DHDN": ("BESSEL1841", 598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7),
    # Amersfoort -> WGS 84: the RDNAPTRANS-derived grid-free Helmert
    # (EPSG 15934-family parameter set, ~0.5 m).
    "AMERSFOORT": ("BESSEL1841", 565.2369, 50.0087, 465.658,
                   -0.406857, 0.350733, -1.87035, 4.0812),
    # CH1903(+) -> WGS 84: the official Swisstopo translation-only shift.
    "CH1903": ("BESSEL1841", 674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0),
    # Timbalai 1948 -> WGS 84: standard grid-free translation (~10 m).
    "TIMBALAI": ("EVEREST1967", -679.0, 669.0, -48.0, 0.0, 0.0, 0.0, 0.0),
    # S-JTSK -> WGS 84: the standard grid-free 7-parameter set (~1 m).
    "SJTSK": ("BESSEL1841", 570.8, 85.7, 462.8, 4.998, 1.587, 5.261, 3.56),
    # ED50 -> WGS 84: NIMA TR8350.2 mean solution for Western Europe
    # (translation-only, ~3-10 m — the grid-free standard).
    "ED50": ("INTL1924", -87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0),
    # NAD27 -> WGS 84: NIMA TR8350.2 CONUS mean (translation-only, ~5-10 m;
    # sub-metre work needs the NADCON grids, out of scope like all grid shifts).
    "NAD27": ("CLARKE1866", -8.0, 160.0, 176.0, 0.0, 0.0, 0.0, 0.0),
    # Pulkovo 1942 -> WGS 84: EPSG transformation 1254 (translation-only,
    # ~15 m Russia-wide mean; regional 7-parameter sets exist per country).
    "PULKOVO42": ("KRASSOWSKY1940", 28.0, -130.0, -95.0, 0.0, 0.0, 0.0, 0.0),
}

_TM_CONSTS_CACHE: dict = {}


def _tm_consts(a: float, f: float):
    """(n, A_bar, alpha, beta, e) Krüger series constants per ellipsoid."""
    key = (a, f)
    c = _TM_CONSTS_CACHE.get(key)
    if c is not None:
        return c
    n = f / (2.0 - f)
    A_bar = a / (1 + n) * (1 + n**2 / 4 + n**4 / 64 + n**6 / 256)
    alpha = (
        n / 2 - 2 * n**2 / 3 + 5 * n**3 / 16 + 41 * n**4 / 180 - 127 * n**5 / 288 + 7891 * n**6 / 37800,
        13 * n**2 / 48 - 3 * n**3 / 5 + 557 * n**4 / 1440 + 281 * n**5 / 630 - 1983433 * n**6 / 1935360,
        61 * n**3 / 240 - 103 * n**4 / 140 + 15061 * n**5 / 26880 + 167603 * n**6 / 181440,
        49561 * n**4 / 161280 - 179 * n**5 / 168 + 6601661 * n**6 / 7257600,
        34729 * n**5 / 80640 - 3418889 * n**6 / 1995840,
        212378941 * n**6 / 319334400,
    )
    beta = (
        n / 2 - 2 * n**2 / 3 + 37 * n**3 / 96 - n**4 / 360 - 81 * n**5 / 512 + 96199 * n**6 / 604800,
        n**2 / 48 + n**3 / 15 - 437 * n**4 / 1440 + 46 * n**5 / 105 - 1118711 * n**6 / 3870720,
        17 * n**3 / 480 - 37 * n**4 / 840 - 209 * n**5 / 4480 + 5569 * n**6 / 90720,
        4397 * n**4 / 161280 - 11 * n**5 / 504 - 830251 * n**6 / 7257600,
        4583 * n**5 / 161280 - 108847 * n**6 / 3991680,
        20648693 * n**6 / 638668800,
    )
    e = math.sqrt(f * (2.0 - f))
    c = (n, A_bar, alpha, beta, e)
    _TM_CONSTS_CACHE[key] = c
    return c


def _geodetic_to_ecef(a: float, f: float, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """(n, 3) geocentric XYZ at ellipsoid height 0."""
    e2 = f * (2.0 - f)
    lam = np.radians(lon)
    phi = np.radians(lat)
    s = np.sin(phi)
    N = a / np.sqrt(1 - e2 * s * s)
    return np.stack(
        [N * np.cos(phi) * np.cos(lam), N * np.cos(phi) * np.sin(lam), N * (1 - e2) * s],
        axis=1,
    )


def _ecef_to_geodetic(a: float, f: float, X: np.ndarray):
    """(lon_deg, lat_deg) from geocentric XYZ (height discarded — the 2D
    reprojection convention; Bowring-style fixed point, ~1e-12 rad)."""
    e2 = f * (2.0 - f)
    x, y, z = X[:, 0], X[:, 1], X[:, 2]
    lon = np.arctan2(y, x)
    p = np.hypot(x, y)
    phi = np.arctan2(z, p * (1 - e2))
    for _ in range(10):
        s = np.sin(phi)
        N = a / np.sqrt(1 - e2 * s * s)
        h = p / np.cos(phi) - N
        phi = np.arctan2(z, p * (1 - e2 * N / (N + h)))
    return np.degrees(lon), np.degrees(phi)


def _datum_fns(datum: str | None):
    """(from_wgs84, to_wgs84) lon/lat-array shifts for a named datum, or
    (None, None). The inverse uses the exact matrix inverse, so the only
    round-trip loss is the 2D height-drop (~1e-6 deg for OSGB36)."""
    if datum is None:
        return None, None
    ell, tx, ty, tz, rx, ry, rz, s_ppm = _DATUM_TO_WGS84[datum]
    a_l, f_l = _ELLIPSOIDS[ell]
    a_w, f_w = _ELLIPSOIDS["WGS84"]
    as2r = math.pi / (180.0 * 3600.0)
    rxr, ryr, rzr = rx * as2r, ry * as2r, rz * as2r
    M = (1.0 + s_ppm * 1e-6) * np.array(
        [[1.0, -rzr, ryr], [rzr, 1.0, -rxr], [-ryr, rxr, 1.0]]
    )
    T = np.array([tx, ty, tz])
    Minv = np.linalg.inv(M)

    def from_wgs84(lon, lat):
        Xl = (_geodetic_to_ecef(a_w, f_w, lon, lat) - T) @ Minv.T
        return _ecef_to_geodetic(a_l, f_l, Xl)

    def to_wgs84(lon, lat):
        X = _geodetic_to_ecef(a_l, f_l, lon, lat) @ M.T + T
        return _ecef_to_geodetic(a_w, f_w, X)

    return from_wgs84, to_wgs84


def _tm_merid_y(phi0: float, es: float, alpha) -> float:
    """Scaled meridian-arc ordinate of the TM series at (lat0, lon0) —
    computed with the same numpy ops as the batch path, so projecting the
    natural origin yields the false origin bit-exactly."""
    if phi0 == 0.0:
        return 0.0
    p = np.array([phi0])
    with np.errstate(divide="ignore"):  # arctanh(±1) = ±inf at a polar lat0
        t = np.sinh(np.arctanh(np.sin(p)) - es * np.arctanh(es * np.sin(p)))
    xi = np.arctan2(t, np.cos(np.array([0.0])))
    y = xi.copy()
    for j, a_j in enumerate(alpha, start=1):
        y += a_j * np.sin(2 * j * xi) * np.cosh(np.array([0.0]))
    return float(y[0])


def _tm_forward_fn(a, f, k0, lat0, lon0, FE, FN, datum: str | None = None):
    n, A_bar, alpha, _beta, _e = _tm_consts(a, f)
    lam0 = math.radians(lon0)
    kA = k0 * A_bar
    es = (2 * math.sqrt(n)) / (1 + n)
    y0 = _tm_merid_y(math.radians(lat0), es, alpha)
    shift, _ = _datum_fns(datum)

    def fwd(arr: np.ndarray) -> np.ndarray:
        lon_d, lat_d = arr[:, 0], arr[:, 1]
        if shift is not None:
            lon_d, lat_d = shift(lon_d, lat_d)
        lam = np.radians(lon_d) - lam0
        phi = np.radians(lat_d)
        with np.errstate(divide="ignore"):  # arctanh(±1) = ±inf at the poles
            t = np.sinh(
                np.arctanh(np.sin(phi)) - es * np.arctanh(es * np.sin(phi)))
        xi = np.arctan2(t, np.cos(lam))
        eta = np.arctanh(np.sin(lam) / np.sqrt(1 + t * t))
        x = eta.copy()
        y = xi.copy()
        for j, a_j in enumerate(alpha, start=1):
            x += a_j * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
            y += a_j * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        out = arr.copy()
        out[:, 0] = FE + kA * x
        # subtract the origin ordinate BEFORE scaling: the natural origin
        # then maps to (FE, FN) bit-exactly (y == y0 cancels to zero)
        out[:, 1] = FN + kA * (y - y0)
        return out

    return fwd


def _tm_inverse_fn(a, f, k0, lat0, lon0, FE, FN, datum: str | None = None):
    n, A_bar, alpha, beta, e = _tm_consts(a, f)
    lam0 = math.radians(lon0)
    kA = k0 * A_bar
    es = (2 * math.sqrt(n)) / (1 + n)
    y0 = _tm_merid_y(math.radians(lat0), es, alpha)
    _, unshift = _datum_fns(datum)

    def inv(arr: np.ndarray) -> np.ndarray:
        xi = (arr[:, 1] - FN) / kA + y0
        eta = (arr[:, 0] - FE) / kA
        xi_p = xi.copy()
        eta_p = eta.copy()
        for j, b_j in enumerate(beta, start=1):
            xi_p -= b_j * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
            eta_p -= b_j * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
        lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
        # conformal latitude -> geodetic latitude (fixed-point, ~1e-12 rad)
        chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
        phi = chi.copy()
        for _ in range(6):
            s = np.sin(phi)
            phi = 2 * np.arctan(
                np.tan(np.pi / 4 + chi / 2)
                * ((1 + e * s) / (1 - e * s)) ** (e / 2)
            ) - np.pi / 2
        lon_d = np.degrees(lam + lam0)
        lat_d = np.degrees(phi)
        if unshift is not None:
            lon_d, lat_d = unshift(lon_d, lat_d)
        out = arr.copy()
        out[:, 0] = lon_d
        out[:, 1] = lat_d
        return out

    return inv


# EPSG -> (ellipsoid, k0, lat0, lon0, FE, FN, datum)
_TM_CODES: dict[int, tuple] = {
    # OSGB36 / British National Grid
    27700: ("AIRY1830", 0.9996012717, 49.0, -2.0, 400000.0, -100000.0, "OSGB36"),
    # NZGD2000 / New Zealand Transverse Mercator (NZGD2000 ≡ WGS84 here)
    2193: ("GRS80", 0.9996, 0.0, 173.0, 1600000.0, 10000000.0, None),
}
for _z in range(28, 39):  # ETRS89 / UTM zones 28N-38N
    _TM_CODES[25800 + _z] = ("GRS80", 0.9996, 0.0, _z * 6 - 183.0, 500000.0, 0.0, None)
for _z in range(1, 24):  # NAD83 / UTM zones 1N-23N
    _TM_CODES[26900 + _z] = ("GRS80", 0.9996, 0.0, _z * 6 - 183.0, 500000.0, 0.0, None)
for _z in range(2, 6):  # DHDN / 3-degree Gauss-Krüger zones 2-5 (Germany)
    _TM_CODES[31464 + _z] = (
        "BESSEL1841", 1.0, 0.0, _z * 3.0, _z * 1_000_000.0 + 500_000.0, 0.0, "DHDN",
    )
for _z in range(28, 39):  # ED50 / UTM zones 28N-38N (pre-ETRS89 Europe)
    _TM_CODES[23000 + _z] = (
        "INTL1924", 0.9996, 0.0, _z * 6 - 183.0, 500000.0, 0.0, "ED50",
    )
for _z in range(3, 23):  # NAD27 / UTM zones 3N-22N
    _TM_CODES[26700 + _z] = (
        "CLARKE1866", 0.9996, 0.0, _z * 6 - 183.0, 500000.0, 0.0, "NAD27",
    )
for _z in range(48, 59):  # GDA94 / MGA zones 48-58 (Australia, southern FN)
    _TM_CODES[28300 + _z] = ("GRS80", 0.9996, 0.0, _z * 6 - 183.0, 500000.0, 10000000.0, None)
for _z in range(46, 60):  # GDA2020 / MGA zones 46-59
    _TM_CODES[7800 + _z] = ("GRS80", 0.9996, 0.0, _z * 6 - 183.0, 500000.0, 10000000.0, None)
for _z in range(11, 23):  # SIRGAS 2000 / UTM zones 11N-22N
    _TM_CODES[31954 + _z] = ("GRS80", 0.9996, 0.0, _z * 6 - 183.0, 500000.0, 0.0, None)
for _z in range(17, 26):  # SIRGAS 2000 / UTM zones 17S-25S (Brazil et al.)
    _TM_CODES[31960 + _z] = ("GRS80", 0.9996, 0.0, _z * 6 - 183.0, 500000.0, 10000000.0, None)
for _z in range(2, 33):  # Pulkovo 1942 / 6-degree Gauss-Krüger zones 2-32
    _TM_CODES[28400 + _z] = (
        "KRASSOWSKY1940", 1.0, 0.0, _z * 6 - 3.0, _z * 1_000_000.0 + 500_000.0, 0.0,
        "PULKOVO42",
    )
# SWEREF99 TM (Sweden) and ETRS-TM35FIN (Finland): national single-zone TMs
_TM_CODES[3006] = ("GRS80", 0.9996, 0.0, 15.0, 500000.0, 0.0, None)
_TM_CODES[3067] = ("GRS80", 0.9996, 0.0, 27.0, 500000.0, 0.0, None)
# JGD2011 / Japan Plane Rectangular CS zones I-XIX (EPSG 6669-6687):
# k0=0.9999, no false origin, per-zone natural origins (public EPSG
# registry values; JGD2011 is ITRF-based, treated as ≡WGS84 like NZGD2000)
for _i, (_la, _lo) in enumerate([
    (33.0, 129.5), (33.0, 131.0), (36.0, 132.0 + 1 / 6), (33.0, 133.5),
    (36.0, 134.0 + 1 / 3), (36.0, 136.0), (36.0, 137.0 + 1 / 6),
    (36.0, 138.5), (36.0, 139.0 + 5 / 6), (40.0, 140.0 + 5 / 6),
    (44.0, 140.25), (44.0, 142.25), (44.0, 144.25), (26.0, 142.0),
    (26.0, 127.5), (26.0, 124.0), (26.0, 131.0), (20.0, 136.0),
    (26.0, 154.0),
]):
    _TM_CODES[6669 + _i] = ("GRS80", 0.9999, _la, _lo, 0.0, 0.0, None)
# Korea 2000 belts (EPSG 5185-5188: West/Central/East/East Sea):
# k0=1, lat0=38, FE=200000, FN=600000, GRS80 (≡WGS84-compatible datum)
for _i, _lo in enumerate([125.0, 127.0, 129.0, 131.0]):
    _TM_CODES[5185 + _i] = ("GRS80", 1.0, 38.0, _lo, 200000.0, 600000.0, None)


def _tm_code_fns(srid: int):
    """(forward, inverse) for a parameterized-TM EPSG code, or None."""
    t = _TM_CODES.get(srid)
    if t is None:
        return None
    ell, k0, lat0, lon0, FE, FN, datum = t
    a_, f_ = _ELLIPSOIDS[ell]
    return (
        _tm_forward_fn(a_, f_, k0, lat0, lon0, FE, FN, datum),
        _tm_inverse_fn(a_, f_, k0, lat0, lon0, FE, FN, datum),
    )


# ---- Conic projections: Lambert Conformal Conic (2SP) and Albers Equal
# Area, ellipsoidal closed forms per Snyder, "Map Projections — A Working
# Manual", USGS PP 1395 (1987), pp. 101-109 (LCC) / 98-100 (Albers). Covers
# the common national/continental and (metre-based) state-plane codes the
# reference reprojects via proj (functions.rs:1868-1939). Parameters from the
# public EPSG registry.
_GRS80_A = 6378137.0
_GRS80_F = 1.0 / 298.257222101

# EPSG: (kind, a, f, lat0, lon0, lat1, lat2, FE, FN) — degrees / metres
_CONIC_CODES = {
    # RGF93 v1 / Lambert-93 (France)
    2154: ("lcc", _GRS80_A, _GRS80_F, 46.5, 3.0, 49.0, 44.0, 700000.0, 6600000.0),
    # NAD83 / Statistics Canada Lambert
    3347: ("lcc", _GRS80_A, _GRS80_F, 63.390675, -91.8666666666666667, 49.0, 77.0,
           6200000.0, 3000000.0),
    # NAD83 / Canada Atlas Lambert
    3978: ("lcc", _GRS80_A, _GRS80_F, 49.0, -95.0, 49.0, 77.0, 0.0, 0.0),
    # NAD83 / Texas South Central (metres)
    32140: ("lcc", _GRS80_A, _GRS80_F, 27.8333333333333333, -99.0,
            30.2833333333333333, 28.3833333333333333, 600000.0, 4000000.0),
    # NAD83 / Conus Albers
    5070: ("albers", _GRS80_A, _GRS80_F, 23.0, -96.0, 29.5, 45.5, 0.0, 0.0),
    # GDA94 / Australian Albers
    3577: ("albers", _GRS80_A, _GRS80_F, 0.0, 132.0, -18.0, -36.0, 0.0, 0.0),
    # ETRS89-extended / LAEA Europe (azimuthal: lat1/lat2 unused)
    3035: ("laea", _GRS80_A, _GRS80_F, 52.0, 10.0, 0.0, 0.0, 4321000.0, 3210000.0),
    # NAD83 / California zone 5 (axis unit ftUS via _CODE_UNIT; EPSG
    # defines the false origin IN ftUS as exactly 6 561 666.667 /
    # 1 640 416.667 — i.e. 2 000 000.0001016 m, the value PROJ ships —
    # not the rounder 2 000 000 m (r11 fix: was 6561666.66666666)
    2229: ("lcc", _GRS80_A, _GRS80_F, 33.5, -118.0,
           34.0 + 2.0 / 60.0, 35.0 + 28.0 / 60.0,
           6561666.667 * 1200.0 / 3937.0, 1640416.667 * 1200.0 / 3937.0),
    # NAD83 / New York Long Island (ftUS; FE 984 250 ftUS = exactly 300 km)
    2263: ("lcc", _GRS80_A, _GRS80_F, 40.0 + 10.0 / 60.0, -74.0,
           40.0 + 40.0 / 60.0, 41.0 + 2.0 / 60.0,
           984250.0 * 1200.0 / 3937.0, 0.0),
    # ETRS89-extended / LCC Europe (the pan-European conformal companion
    # to LAEA 3035, same grid origin at 52N 10E)
    3034: ("lcc", _GRS80_A, _GRS80_F, 52.0, 10.0, 35.0, 65.0, 4000000.0, 2800000.0),
    # NAD83 / BC Albers (British Columbia provincial standard)
    3005: ("albers", _GRS80_A, _GRS80_F, 45.0, -126.0, 50.0, 58.5, 1000000.0, 0.0),
    # NAD83 / Alaska Albers
    3338: ("albers", _GRS80_A, _GRS80_F, 50.0, -154.0, 55.0, 65.0, 0.0, 0.0),
}


def _lcc_consts(a, f, lat0, lon0, lat1, lat2):
    e = math.sqrt(f * (2.0 - f))
    p0, p1, p2 = (math.radians(v) for v in (lat0, lat1, lat2))

    def m(p):
        return math.cos(p) / math.sqrt(1 - (e * math.sin(p)) ** 2)

    def t(p):
        return math.tan(math.pi / 4 - p / 2) / (
            (1 - e * math.sin(p)) / (1 + e * math.sin(p))
        ) ** (e / 2)

    if abs(lat1 - lat2) < 1e-12:
        n = math.sin(p1)
    else:
        n = (math.log(m(p1)) - math.log(m(p2))) / (math.log(t(p1)) - math.log(t(p2)))
    Fc = m(p1) / (n * t(p1) ** n)
    rho0 = a * Fc * t(p0) ** n
    return e, n, Fc, rho0, math.radians(lon0)


def _lcc_forward(a, f, lat0, lon0, lat1, lat2, FE, FN):
    e, n, Fc, rho0, lam0 = _lcc_consts(a, f, lat0, lon0, lat1, lat2)

    def fn(arr: np.ndarray) -> np.ndarray:
        phi = np.radians(arr[:, 1])
        lam = np.radians(arr[:, 0]) - lam0
        es = e * np.sin(phi)
        tt = np.tan(np.pi / 4 - phi / 2) / ((1 - es) / (1 + es)) ** (e / 2)
        rho = a * Fc * tt**n
        th = n * lam
        out = arr.copy()
        out[:, 0] = FE + rho * np.sin(th)
        out[:, 1] = FN + rho0 - rho * np.cos(th)
        return out

    return fn


def _phi_from_t(tp: np.ndarray, e: float) -> np.ndarray:
    """Invert the isometric-latitude t(φ) (Snyder 7-9, fixed point ~1e-12)."""
    phi = np.pi / 2 - 2 * np.arctan(tp)
    for _ in range(8):
        es = e * np.sin(phi)
        phi = np.pi / 2 - 2 * np.arctan(tp * ((1 - es) / (1 + es)) ** (e / 2))
    return phi


def _lcc_inverse(a, f, lat0, lon0, lat1, lat2, FE, FN):
    e, n, Fc, rho0, lam0 = _lcc_consts(a, f, lat0, lon0, lat1, lat2)

    def fn(arr: np.ndarray) -> np.ndarray:
        x = arr[:, 0] - FE
        y = rho0 - (arr[:, 1] - FN)
        rho = np.sign(n) * np.sqrt(x * x + y * y)
        th = np.arctan2(np.sign(n) * x, np.sign(n) * y)
        tp = (rho / (a * Fc)) ** (1.0 / n)
        out = arr.copy()
        out[:, 0] = np.degrees(th / n + lam0)
        out[:, 1] = np.degrees(_phi_from_t(tp, e))
        return out

    return fn


def _albers_consts(a, f, lat0, lon0, lat1, lat2):
    e = math.sqrt(f * (2.0 - f))
    e2 = e * e
    p0, p1, p2 = (math.radians(v) for v in (lat0, lat1, lat2))

    def m(p):
        return math.cos(p) / math.sqrt(1 - e2 * math.sin(p) ** 2)

    def q(p):
        s = math.sin(p)
        return (1 - e2) * (
            s / (1 - e2 * s * s) - (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s))
        )

    n = (m(p1) ** 2 - m(p2) ** 2) / (q(p2) - q(p1))
    C = m(p1) ** 2 + n * q(p1)
    rho0 = a * math.sqrt(C - n * q(p0)) / n
    return e, n, C, rho0, math.radians(lon0)


def _albers_forward(a, f, lat0, lon0, lat1, lat2, FE, FN):
    e, n, C, rho0, lam0 = _albers_consts(a, f, lat0, lon0, lat1, lat2)
    e2 = e * e

    def fn(arr: np.ndarray) -> np.ndarray:
        phi = np.radians(arr[:, 1])
        s = np.sin(phi)
        qv = (1 - e2) * (
            s / (1 - e2 * s * s) - (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
        )
        rho = a * np.sqrt(C - n * qv) / n
        th = n * (np.radians(arr[:, 0]) - lam0)
        out = arr.copy()
        out[:, 0] = FE + rho * np.sin(th)
        out[:, 1] = FN + rho0 - rho * np.cos(th)
        return out

    return fn


def _albers_inverse(a, f, lat0, lon0, lat1, lat2, FE, FN):
    e, n, C, rho0, lam0 = _albers_consts(a, f, lat0, lon0, lat1, lat2)
    e2 = e * e

    def fn(arr: np.ndarray) -> np.ndarray:
        x = arr[:, 0] - FE
        y = rho0 - (arr[:, 1] - FN)
        rho = np.sqrt(x * x + y * y)
        th = np.arctan2(x, y)
        if n < 0:
            th = np.arctan2(-x, -y)
        qp = (C - (rho * n / a) ** 2) / n
        # Snyder 3-16 iteration for φ from the authalic q
        phi = np.arcsin(np.clip(qp / 2.0, -1.0, 1.0))
        for _ in range(8):
            s = np.sin(phi)
            phi = phi + (1 - e2 * s * s) ** 2 / (2 * np.cos(phi)) * (
                qp / (1 - e2)
                - s / (1 - e2 * s * s)
                + (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
            )
        out = arr.copy()
        out[:, 0] = np.degrees(th / n + lam0)
        out[:, 1] = np.degrees(phi)
        return out

    return fn


def _laea_consts(a, f, lat0, lon0):
    e = math.sqrt(f * (2.0 - f))
    e2 = e * e
    p0 = math.radians(lat0)

    def q(p):
        s = math.sin(p)
        return (1 - e2) * (
            s / (1 - e2 * s * s) - (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s))
        )

    qp = q(math.pi / 2)
    beta1 = math.asin(q(p0) / qp)
    Rq = a * math.sqrt(qp / 2.0)
    m1 = math.cos(p0) / math.sqrt(1 - e2 * math.sin(p0) ** 2)
    D = a * m1 / (Rq * math.cos(beta1))
    return e, qp, beta1, Rq, D, math.radians(lon0)


def _laea_sphere_fwd(R, lat0, lon0, FE, FN):
    """LAEA, spherical general case (Snyder PP 1395 p. 185, eqs. 24-2,
    22-4, 24-13/24-14) — US National Atlas (2163/9311) and the EASE-Grid
    spheres (3408/3409)."""
    p0, lam0 = math.radians(lat0), math.radians(lon0)
    s0, c0 = math.sin(p0), math.cos(p0)

    def fn(arr: np.ndarray) -> np.ndarray:
        phi = np.radians(arr[:, 1])
        lam = np.radians(arr[:, 0]) - lam0
        sp, cp = np.sin(phi), np.cos(phi)
        with np.errstate(divide="ignore", invalid="ignore"):
            kp = np.sqrt(2.0 / (1.0 + s0 * sp + c0 * cp * np.cos(lam)))
        out = arr.copy()
        out[:, 0] = FE + R * kp * cp * np.sin(lam)
        out[:, 1] = FN + R * kp * (c0 * sp - s0 * cp * np.cos(lam))
        return out

    return fn


def _laea_sphere_inv(R, lat0, lon0, FE, FN):
    p0, lam0 = math.radians(lat0), math.radians(lon0)
    s0, c0 = math.sin(p0), math.cos(p0)

    def fn(arr: np.ndarray) -> np.ndarray:
        x = arr[:, 0] - FE
        y = arr[:, 1] - FN
        rho = np.hypot(x, y)
        c = 2.0 * np.arcsin(np.clip(rho / (2.0 * R), -1.0, 1.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            phi = np.arcsin(np.clip(
                np.cos(c) * s0 + np.where(rho > 0, y * np.sin(c) * c0 / rho, 0.0),
                -1.0, 1.0))
            lam = np.arctan2(x * np.sin(c),
                             rho * c0 * np.cos(c) - y * s0 * np.sin(c))
        at_center = rho < 1e-12
        out = arr.copy()
        out[:, 0] = np.degrees(np.where(at_center, 0.0, lam) + lam0)
        out[:, 1] = np.degrees(np.where(at_center, p0, phi))
        return out

    return fn


def _laea_q(e, e2, s):
    # arctanh form of Snyder 3-12: exactly odd in s, so q(-1) == -q(1) in
    # floating point and the polar rho = a*sqrt(qp -+ q) hits 0 at the pole
    return (1 - e2) * (s / (1 - e2 * s * s) + np.arctanh(e * s) / e)


def _laea_polar_fwd(a, f, lat0, lon0, FE, FN):
    """LAEA, ellipsoidal polar aspect (Snyder PP 1395 p. 188, eqs.
    24-23/24-24; 21-30/21-31 for xy) — EASE-Grid 2.0 (6931/6932) and the
    Arctic LAEA family (3571-3576)."""
    e = math.sqrt(f * (2.0 - f))
    e2 = e * e
    qp = float(_laea_q(e, e2, np.float64(1.0)))
    north = lat0 > 0
    lam0 = math.radians(lon0)

    def fn(arr: np.ndarray) -> np.ndarray:
        phi = np.radians(arr[:, 1])
        lam = np.radians(arr[:, 0]) - lam0
        qv = _laea_q(e, e2, np.sin(phi))
        rho = a * np.sqrt(np.maximum(qp - qv if north else qp + qv, 0.0))
        out = arr.copy()
        out[:, 0] = FE + rho * np.sin(lam)
        out[:, 1] = FN + (-rho * np.cos(lam) if north else rho * np.cos(lam))
        return out

    return fn


def _laea_polar_inv(a, f, lat0, lon0, FE, FN):
    e = math.sqrt(f * (2.0 - f))
    e2 = e * e
    qp = float(_laea_q(e, e2, np.float64(1.0)))
    north = lat0 > 0
    lam0 = math.radians(lon0)

    def fn(arr: np.ndarray) -> np.ndarray:
        x = arr[:, 0] - FE
        y = arr[:, 1] - FN
        rho = np.hypot(x, y)
        qv = qp - (rho / a) ** 2 if north else (rho / a) ** 2 - qp
        # authalic -> geodetic latitude (Snyder 3-16 fixed point)
        phi = np.arcsin(np.clip(qv / qp, -1.0, 1.0))
        for _ in range(8):
            s = np.sin(phi)
            phi = phi + (1 - e2 * s * s) ** 2 / (2 * np.cos(phi)) * (
                qv / (1 - e2)
                - s / (1 - e2 * s * s)
                + (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
            )
        lam = np.arctan2(x, -y) if north else np.arctan2(x, y)
        at_pole = rho < 1e-9
        out = arr.copy()
        out[:, 0] = np.degrees(np.where(at_pole, 0.0, lam) + lam0)
        out[:, 1] = np.degrees(np.where(
            at_pole, math.copysign(math.pi / 2, 1.0 if north else -1.0), phi))
        return out

    return fn


def _laea_forward(a, f, lat0, lon0, _lat1, _lat2, FE, FN):
    """Lambert Azimuthal Equal Area, ellipsoidal oblique case
    (Snyder PP 1395, pp. 187-190, eqs. 24-2..24-19); spherical and
    ellipsoidal-polar aspects dispatch to their own closed forms (the
    oblique constants divide by e and cos beta1)."""
    if f == 0.0:
        return _laea_sphere_fwd(a, lat0, lon0, FE, FN)
    if abs(lat0) == 90.0:
        return _laea_polar_fwd(a, f, lat0, lon0, FE, FN)
    e, qp, beta1, Rq, D, lam0 = _laea_consts(a, f, lat0, lon0)
    e2 = e * e

    def fn(arr: np.ndarray) -> np.ndarray:
        phi = np.radians(arr[:, 1])
        lam = np.radians(arr[:, 0]) - lam0
        s = np.sin(phi)
        qv = (1 - e2) * (
            s / (1 - e2 * s * s) - (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
        )
        beta = np.arcsin(np.clip(qv / qp, -1.0, 1.0))
        B = Rq * np.sqrt(
            2.0 / (1 + math.sin(beta1) * np.sin(beta) + math.cos(beta1) * np.cos(beta) * np.cos(lam))
        )
        out = arr.copy()
        out[:, 0] = FE + B * D * np.cos(beta) * np.sin(lam)
        out[:, 1] = FN + (B / D) * (
            math.cos(beta1) * np.sin(beta) - math.sin(beta1) * np.cos(beta) * np.cos(lam)
        )
        return out

    return fn


def _laea_inverse(a, f, lat0, lon0, _lat1, _lat2, FE, FN):
    if f == 0.0:
        return _laea_sphere_inv(a, lat0, lon0, FE, FN)
    if abs(lat0) == 90.0:
        return _laea_polar_inv(a, f, lat0, lon0, FE, FN)
    e, qp, beta1, Rq, D, lam0 = _laea_consts(a, f, lat0, lon0)
    e2 = e * e

    def fn(arr: np.ndarray) -> np.ndarray:
        x = (arr[:, 0] - FE) / D
        y = D * (arr[:, 1] - FN)
        rho = np.sqrt(x * x + y * y)
        ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * Rq), -1.0, 1.0))
        with np.errstate(invalid="ignore", divide="ignore"):
            beta = np.arcsin(np.clip(
                np.cos(ce) * math.sin(beta1) + y * np.sin(ce) * math.cos(beta1) / rho, -1.0, 1.0))
            lam = np.arctan2(
                x * np.sin(ce),
                rho * math.cos(beta1) * np.cos(ce) - y * math.sin(beta1) * np.sin(ce),
            )
        at_center = rho < 1e-12
        beta = np.where(at_center, beta1, beta)
        lam = np.where(at_center, 0.0, lam)
        # authalic -> geodetic latitude via the q iteration (Snyder 3-16)
        qv = qp * np.sin(beta)
        phi = beta.copy()
        for _ in range(8):
            s = np.sin(phi)
            phi = phi + (1 - e2 * s * s) ** 2 / (2 * np.cos(phi)) * (
                qv / (1 - e2)
                - s / (1 - e2 * s * s)
                + (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
            )
        out = arr.copy()
        out[:, 0] = np.degrees(lam + lam0)
        out[:, 1] = np.degrees(phi)
        return out

    return fn


def _cea_forward(a, f, lat_ts, lon0, FE, FN):
    """Lambert Cylindrical Equal Area, ellipsoidal (Snyder PP 1395 pp.
    81-82, eqs. 10-7/10-8; EPSG method 9835 — EASE-Grid 2.0 global and the
    NSIDC 3410 family). k0 = cos(lat_ts)/sqrt(1-e^2 sin^2 lat_ts);
    x = a k0 lam, y = a q(phi)/(2 k0)."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    pts = math.radians(lat_ts)
    k0 = math.cos(pts) / math.sqrt(1 - e2 * math.sin(pts) ** 2)
    lam0 = math.radians(lon0)
    if f == 0.0:
        def fn_s(arr: np.ndarray) -> np.ndarray:
            out = arr.copy()
            out[:, 0] = FE + a * k0 * (np.radians(arr[:, 0]) - lam0)
            out[:, 1] = FN + a * np.sin(np.radians(arr[:, 1])) / k0
            return out

        return fn_s

    def fn(arr: np.ndarray) -> np.ndarray:
        out = arr.copy()
        out[:, 0] = FE + a * k0 * (np.radians(arr[:, 0]) - lam0)
        out[:, 1] = FN + a * _laea_q(e, e2, np.sin(np.radians(arr[:, 1]))) / (
            2.0 * k0)
        return out

    return fn


def _cea_inverse(a, f, lat_ts, lon0, FE, FN):
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    pts = math.radians(lat_ts)
    k0 = math.cos(pts) / math.sqrt(1 - e2 * math.sin(pts) ** 2)
    lam0 = math.radians(lon0)
    if f == 0.0:
        def fn_s(arr: np.ndarray) -> np.ndarray:
            out = arr.copy()
            out[:, 0] = np.degrees((arr[:, 0] - FE) / (a * k0) + lam0)
            out[:, 1] = np.degrees(
                np.arcsin(np.clip((arr[:, 1] - FN) * k0 / a, -1.0, 1.0)))
            return out

        return fn_s
    qp = float(_laea_q(e, e2, np.float64(1.0)))

    def fn(arr: np.ndarray) -> np.ndarray:
        qv = 2.0 * (arr[:, 1] - FN) * k0 / a
        beta = np.arcsin(np.clip(qv / qp, -1.0, 1.0))
        # authalic -> geodetic latitude (same Snyder 3-16 loop as laea);
        # the fixed point divides by cos(phi), so poles resolve directly
        at_pole = np.abs(beta) > math.pi / 2 - 1e-12
        phi = beta.copy()
        with np.errstate(invalid="ignore", divide="ignore"):
            for _ in range(8):
                s = np.sin(phi)
                phi = phi + (1 - e2 * s * s) ** 2 / (2 * np.cos(phi)) * (
                    qv / (1 - e2)
                    - s / (1 - e2 * s * s)
                    + (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
                )
        phi = np.where(at_pole, np.copysign(math.pi / 2, beta), phi)
        out = arr.copy()
        out[:, 0] = np.degrees((arr[:, 0] - FE) / (a * k0) + lam0)
        out[:, 1] = np.degrees(phi)
        return out

    return fn


def _merid_M(a, e2, phi):
    """Meridian arc length M(phi) — Snyder PP 1395 eq. 3-21."""
    e4, e6 = e2 * e2, e2 * e2 * e2
    return a * (
        (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
        - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * np.sin(2 * phi)
        + (15 * e4 / 256 + 45 * e6 / 1024) * np.sin(4 * phi)
        - (35 * e6 / 3072) * np.sin(6 * phi)
    )


def _merid_phi(a, e2, M):
    """Footpoint latitude from meridian arc (Snyder eqs. 7-19/3-26)."""
    mu = M / (a * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 ** 3 / 256))
    e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    return (
        mu
        + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * np.sin(2 * mu)
        + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * np.sin(4 * mu)
        + (151 * e1 ** 3 / 96) * np.sin(6 * mu)
        + (1097 * e1 ** 4 / 512) * np.sin(8 * mu)
    )


def _cass_forward(a, f, lat0, lon0, FE, FN):
    """Cassini-Soldner, ellipsoidal (Snyder PP 1395 pp. 92-95, eqs.
    13-7/13-8; EPSG method 9806 — Palestine Grid, Trinidad 1903,
    Singapore/Malaya cadastral grids)."""
    e2 = f * (2.0 - f)
    lam0 = math.radians(lon0)
    M0 = float(_merid_M(a, e2, np.float64(math.radians(lat0))))

    def fn(arr: np.ndarray) -> np.ndarray:
        phi = np.radians(arr[:, 1])
        s, c = np.sin(phi), np.cos(phi)
        N = a / np.sqrt(1 - e2 * s * s)
        T = np.tan(phi) ** 2
        A = (np.radians(arr[:, 0]) - lam0) * c
        C = e2 * c * c / (1 - e2)
        A2 = A * A
        out = arr.copy()
        out[:, 0] = FE + N * A * (
            1 - T * A2 / 6 - (8 - T + 8 * C) * T * A2 * A2 / 120)
        out[:, 1] = FN + (_merid_M(a, e2, phi) - M0
                          + N * np.tan(phi) * A2 * (
                              0.5 + (5 - T + 6 * C) * A2 / 24))
        return out

    return fn


def _cass_inverse(a, f, lat0, lon0, FE, FN):
    e2 = f * (2.0 - f)
    lam0 = math.radians(lon0)
    M0 = float(_merid_M(a, e2, np.float64(math.radians(lat0))))
    fwd_nofo = _cass_forward(a, f, lat0, lon0, 0.0, 0.0)

    def fn(arr: np.ndarray) -> np.ndarray:
        x = arr[:, 0] - FE
        phi1 = _merid_phi(a, e2, M0 + (arr[:, 1] - FN))
        s1, c1 = np.sin(phi1), np.cos(phi1)
        with np.errstate(divide="ignore", invalid="ignore"):
            T1 = np.tan(phi1) ** 2
            N1 = a / np.sqrt(1 - e2 * s1 * s1)
            R1 = a * (1 - e2) / (1 - e2 * s1 * s1) ** 1.5
            D = x / N1
            D2 = D * D
            phi = phi1 - (N1 * np.tan(phi1) / R1) * D2 * (
                0.5 - (1 + 3 * T1) * D2 / 24)
            lam = lam0 + (D - T1 * D2 * D / 3
                          + (1 + 3 * T1) * T1 * D2 * D2 * D / 15) / c1
        # footpoint at a pole (tan/cos blow up): the point IS the pole
        at_pole = np.abs(c1) < 1e-12
        phi = np.where(at_pole, phi1, phi)
        lam = np.where(at_pole, lam0, lam)
        # Newton polish: the Snyder 13-y series truncates at ~3e-8 deg
        # (mm-level) far from the CM; two 2-D Newton steps on the forward
        # bring the round-trip to float precision (cadastral grids care)
        lon_d, lat_d = np.degrees(lam), np.degrees(phi)
        h = 1e-7
        for _ in range(2):
            base = fwd_nofo(np.stack([lon_d, lat_d], axis=1))
            rx, ry = base[:, 0] - x, base[:, 1] - (arr[:, 1] - FN)
            dlon = fwd_nofo(np.stack([lon_d + h, lat_d], axis=1))
            dlat = fwd_nofo(np.stack([lon_d, lat_d + h], axis=1))
            j11 = (dlon[:, 0] - base[:, 0]) / h
            j21 = (dlon[:, 1] - base[:, 1]) / h
            j12 = (dlat[:, 0] - base[:, 0]) / h
            j22 = (dlat[:, 1] - base[:, 1]) / h
            det = j11 * j22 - j12 * j21
            det = np.where(np.abs(det) < 1e-30, 1e-30, det)
            lon_d = lon_d - (j22 * rx - j12 * ry) / det
            lat_d = lat_d - (-j21 * rx + j11 * ry) / det
        out = arr.copy()
        out[:, 0] = lon_d
        out[:, 1] = lat_d
        return out

    return fn


def _poly_forward(a, f, lat0, lon0, FE, FN):
    """American Polyconic, ellipsoidal (Snyder PP 1395 pp. 124-126, eqs.
    18-12..18-15; EPSG method 9818 — SAD69 / Brazil Polyconic)."""
    e2 = f * (2.0 - f)
    lam0 = math.radians(lon0)
    M0 = float(_merid_M(a, e2, np.float64(math.radians(lat0))))

    def fn(arr: np.ndarray) -> np.ndarray:
        phi = np.radians(arr[:, 1])
        lam = np.radians(arr[:, 0]) - lam0
        s = np.sin(phi)
        with np.errstate(divide="ignore", invalid="ignore"):
            N = a / np.sqrt(1 - e2 * s * s)
            cot = 1.0 / np.tan(phi)
            E = lam * s
            xe = N * cot * np.sin(E)
            ye = _merid_M(a, e2, phi) - M0 + N * cot * (1 - np.cos(E))
        on_eq = np.abs(phi) < 1e-12
        out = arr.copy()
        out[:, 0] = FE + np.where(on_eq, a * lam, xe)
        out[:, 1] = FN + np.where(on_eq, -M0, ye)
        return out

    return fn


def _poly_inverse(a, f, lat0, lon0, FE, FN):
    """Vectorized 2-D Newton on the closed-form forward (numeric Jacobian;
    the polyconic inverse series (Snyder 18-18) trades accuracy for speed —
    Newton from the footpoint latitude converges in ~4 steps to float
    precision and shares the forward's code path)."""
    e2 = f * (2.0 - f)
    lam0 = math.radians(lon0)
    M0 = float(_merid_M(a, e2, np.float64(math.radians(lat0))))
    fwd = _poly_forward(a, f, lat0, lon0, 0.0, 0.0)

    def _f(lon_deg, lat_deg):
        arr = np.stack([lon_deg, lat_deg], axis=1)
        o = fwd(arr)
        return o[:, 0], o[:, 1]

    def fn(arr: np.ndarray) -> np.ndarray:
        x = arr[:, 0] - FE
        y = arr[:, 1] - FN
        # start at the footpoint latitude / equirect longitude
        lat = np.degrees(_merid_phi(a, e2, M0 + y))
        lon = np.degrees(lam0 + x / (a * np.maximum(
            np.cos(np.radians(lat)), 1e-9)) * np.cos(np.radians(lat)))
        h = 1e-7
        for _ in range(8):
            fx, fy = _f(lon, lat)
            rx, ry = fx - x, fy - y
            dxdlon, dydlon = _f(lon + h, lat)
            dxdlat, dydlat = _f(lon, lat + h)
            j11 = (dxdlon - fx) / h
            j21 = (dydlon - fy) / h
            j12 = (dxdlat - fx) / h
            j22 = (dydlat - fy) / h
            det = j11 * j22 - j12 * j21
            det = np.where(np.abs(det) < 1e-30, 1e-30, det)
            lon = lon - (j22 * rx - j12 * ry) / det
            lat = lat - (-j21 * rx + j11 * ry) / det
        out = arr.copy()
        out[:, 0] = lon
        out[:, 1] = lat
        return out

    return fn


def _eqc_forward(a, f, lat_ts, lat0, lon0, FE, FN):
    """Equidistant Cylindrical / Plate Carree, ellipsoidal (EPSG method
    1028; Snyder pp. 90-91): x = nu(lat_ts) cos(lat_ts) lam, y = M(phi) -
    M(lat0). The spherical case (f=0) degenerates to the classic
    R(lam cos lat_ts, phi)."""
    e2 = f * (2.0 - f)
    pts = math.radians(lat_ts)
    nu1c = a * math.cos(pts) / math.sqrt(1 - e2 * math.sin(pts) ** 2)
    lam0 = math.radians(lon0)
    M0 = float(_merid_M(a, e2, np.float64(math.radians(lat0)))) if f else (
        a * math.radians(lat0))

    def fn(arr: np.ndarray) -> np.ndarray:
        out = arr.copy()
        out[:, 0] = FE + nu1c * (np.radians(arr[:, 0]) - lam0)
        if f == 0.0:
            out[:, 1] = FN + a * np.radians(arr[:, 1]) - M0
        else:
            out[:, 1] = FN + _merid_M(a, e2, np.radians(arr[:, 1])) - M0
        return out

    return fn


def _eqc_inverse(a, f, lat_ts, lat0, lon0, FE, FN):
    e2 = f * (2.0 - f)
    pts = math.radians(lat_ts)
    nu1c = a * math.cos(pts) / math.sqrt(1 - e2 * math.sin(pts) ** 2)
    lam0 = math.radians(lon0)
    M0 = float(_merid_M(a, e2, np.float64(math.radians(lat0)))) if f else (
        a * math.radians(lat0))

    def fn(arr: np.ndarray) -> np.ndarray:
        out = arr.copy()
        out[:, 0] = np.degrees((arr[:, 0] - FE) / nu1c + lam0)
        M = (arr[:, 1] - FN) + M0
        if f == 0.0:
            out[:, 1] = np.degrees(M / a)
        else:
            out[:, 1] = np.degrees(_merid_phi(a, e2, M))
        return out

    return fn


_CONIC_KINDS = {
    "lcc": (_lcc_forward, _lcc_inverse),
    "albers": (_albers_forward, _albers_inverse),
    "laea": (_laea_forward, _laea_inverse),
}


# ---- Ellipsoidal Mercator (variant A, EPSG method 9804; Snyder PP 1395
# pp. 44, eqs 7-6..7-8): x = FE + a k0 (λ−λ0),
# y = FN + a k0 atanh(sin φ) − a k0 e atanh(e sin φ). The y expression is the
# isometric latitude written through atanh — identical to
# ln(tan(π/4+φ/2)·((1−e sinφ)/(1+e sinφ))^(e/2)) but numerically direct.
# The inverse reuses the t(φ) fixed point (_phi_from_t).

def _merc_forward(a, f, k0, lon0, FE, FN):
    e = math.sqrt(f * (2.0 - f))
    lam0 = math.radians(lon0)

    def fn(arr: np.ndarray) -> np.ndarray:
        phi = np.radians(arr[:, 1])
        s = np.sin(phi)
        out = arr.copy()
        out[:, 0] = FE + a * k0 * (np.radians(arr[:, 0]) - lam0)
        out[:, 1] = FN + a * k0 * (np.arctanh(s) - e * np.arctanh(e * s))
        return out

    return fn


def _merc_inverse(a, f, k0, lon0, FE, FN):
    e = math.sqrt(f * (2.0 - f))
    lam0 = math.radians(lon0)

    def fn(arr: np.ndarray) -> np.ndarray:
        tp = np.exp(-(arr[:, 1] - FN) / (a * k0))
        out = arr.copy()
        out[:, 0] = np.degrees((arr[:, 0] - FE) / (a * k0) + lam0)
        out[:, 1] = np.degrees(_phi_from_t(tp, e))
        return out

    return fn


# ---- Polar Stereographic variant B (EPSG method 9829; Snyder PP 1395
# pp. 160-162, eqs 21-33..21-41): the scale k0 is implied by the latitude of
# the standard parallel lat_ts; aspect (north/south pole) follows
# sign(lat_ts). Covers the polar science-grid workhorses 3031/3976 (Antarctic)
# and 3413/3995 (Arctic), all on WGS84.

def _pstereo_consts(a, f, lat_ts):
    e = math.sqrt(f * (2.0 - f))
    pF = math.radians(abs(lat_ts))
    sF = math.sin(pF)
    tF = math.tan(math.pi / 4 - pF / 2) * (
        (1 + e * sF) / (1 - e * sF)
    ) ** (e / 2)
    mF = math.cos(pF) / math.sqrt(1 - (e * sF) ** 2)
    # 2 a k0 = a mF / tF; also expressible via sqrt((1+e)^(1+e)(1−e)^(1−e))
    two_ak0 = a * mF / tF
    return e, two_ak0


def _pstereo_forward(a, f, lat_ts, lon0, FE, FN):
    e, two_ak0 = _pstereo_consts(a, f, lat_ts)
    south = lat_ts < 0
    lam0 = math.radians(lon0)

    def fn(arr: np.ndarray) -> np.ndarray:
        phi = np.radians(arr[:, 1])
        lam = np.radians(arr[:, 0]) - lam0
        if south:
            phi = -phi
            lam = -lam
        es = e * np.sin(phi)
        t = np.tan(np.pi / 4 - phi / 2) * ((1 + es) / (1 - es)) ** (e / 2)
        # ρ = 2 a k0 t / sqrt((1+e)^(1+e)(1−e)^(1−e)); with the implied
        # k0 = mF sqrt(...)/(2 tF) the radical cancels: ρ = a mF t / tF
        rho = two_ak0 * t
        x = rho * np.sin(lam)
        y = -rho * np.cos(lam)  # north aspect: N decreases toward lon0
        if south:
            x, y = -x, -y
        out = arr.copy()
        out[:, 0] = FE + x
        out[:, 1] = FN + y
        return out

    return fn


def _pstereo_inverse(a, f, lat_ts, lon0, FE, FN):
    e, two_ak0 = _pstereo_consts(a, f, lat_ts)
    south = lat_ts < 0
    lam0 = math.radians(lon0)

    def fn(arr: np.ndarray) -> np.ndarray:
        x = arr[:, 0] - FE
        y = arr[:, 1] - FN
        if south:
            x, y = -x, -y
        rho = np.hypot(x, y)
        tp = rho / two_ak0
        phi = _phi_from_t(tp, e)
        lam = np.arctan2(x, -y)
        if south:
            phi = -phi
            lam = -lam
        out = arr.copy()
        out[:, 0] = np.degrees(lam + lam0)
        out[:, 1] = np.degrees(phi)
        return out

    return fn


# ---- Oblique Stereographic (EPSG method 9809, the "double projection"
# through a conformal sphere — EPSG Guidance Note 7-2 §3.2.7.1). The one
# high-traffic user is 28992 Amersfoort / RD New (Netherlands), Bessel 1841
# with the standard grid-free Helmert shift.

def _osterea_consts(a, f, k0, lat0, lon0):
    e = math.sqrt(f * (2.0 - f))
    e2 = e * e
    p0 = math.radians(lat0)
    s0 = math.sin(p0)
    rho0 = a * (1 - e2) / (1 - e2 * s0 * s0) ** 1.5
    nu0 = a / math.sqrt(1 - e2 * s0 * s0)
    R = math.sqrt(rho0 * nu0)
    n = math.sqrt(1 + e2 * math.cos(p0) ** 4 / (1 - e2))
    S1 = (1 + s0) / (1 - s0)
    S2 = (1 - e * s0) / (1 + e * s0)
    w1 = (S1 * S2**e) ** n
    sin_chi0 = (w1 - 1) / (w1 + 1)
    c = (n + s0) * (1 - sin_chi0) / ((n - s0) * (1 + sin_chi0))
    w2 = c * w1
    chi0 = math.asin((w2 - 1) / (w2 + 1))
    lam0 = math.radians(lon0)
    return e, R, n, c, chi0, lam0


def _osterea_forward(a, f, k0, lat0, lon0, FE, FN, datum=None):
    e, R, n, c, chi0, lam0 = _osterea_consts(a, f, k0, lat0, lon0)
    shift, _ = _datum_fns(datum)

    def fn(arr: np.ndarray) -> np.ndarray:
        lon_d, lat_d = arr[:, 0], arr[:, 1]
        if shift is not None:
            lon_d, lat_d = shift(lon_d, lat_d)
        phi = np.radians(lat_d)
        Lam = n * (np.radians(lon_d) - lam0) + lam0
        s = np.sin(phi)
        Sa = (1 + s) / (1 - s)
        Sb = (1 - e * s) / (1 + e * s)
        w = c * (Sa * Sb**e) ** n
        chi = np.arcsin((w - 1) / (w + 1))
        dl = Lam - lam0
        B = 1 + np.sin(chi) * math.sin(chi0) + np.cos(chi) * math.cos(chi0) * np.cos(dl)
        out = arr.copy()
        out[:, 0] = FE + 2 * R * k0 * np.cos(chi) * np.sin(dl) / B
        out[:, 1] = FN + 2 * R * k0 * (
            np.sin(chi) * math.cos(chi0) - np.cos(chi) * math.sin(chi0) * np.cos(dl)
        ) / B
        return out

    return fn


def _osterea_inverse(a, f, k0, lat0, lon0, FE, FN, datum=None):
    e, R, n, c, chi0, lam0 = _osterea_consts(a, f, k0, lat0, lon0)
    _, unshift = _datum_fns(datum)

    def fn(arr: np.ndarray) -> np.ndarray:
        x = arr[:, 0] - FE
        y = arr[:, 1] - FN
        g = 2 * R * k0 * math.tan(math.pi / 4 - chi0 / 2)
        h = 4 * R * k0 * math.tan(chi0) + g
        i = np.arctan2(x, h + y)
        j = np.arctan2(x, g - y) - i
        chi = chi0 + 2 * np.arctan((y - x * np.tan(j / 2)) / (2 * R * k0))
        Lam = j + 2 * i + lam0
        lam = (Lam - lam0) / n + lam0
        # conformal-sphere latitude -> geodetic: invert
        # w = c(Sa Sb^e)^n via the isometric form (GN7-2 iteration)
        psi = 0.5 * np.log((1 + np.sin(chi)) / (c * (1 - np.sin(chi)))) / n
        phi = 2 * np.arctan(np.exp(psi)) - np.pi / 2
        e2 = e * e
        for _ in range(8):
            s = np.sin(phi)
            psi_i = np.log(
                np.tan(phi / 2 + np.pi / 4) * ((1 - e * s) / (1 + e * s)) ** (e / 2)
            )
            phi = phi - (psi_i - psi) * np.cos(phi) * (1 - e2 * s * s) / (1 - e2)
        lon_d = np.degrees(lam)
        lat_d = np.degrees(phi)
        if unshift is not None:
            lon_d, lat_d = unshift(lon_d, lat_d)
        out = arr.copy()
        out[:, 0] = lon_d
        out[:, 1] = lat_d
        return out

    return fn


# ---- Hotine Oblique Mercator (EPSG methods 9812 variant A / 9815
# variant B; EPSG Guidance Note 7-2 §3.2.6, formulas public). Used by the
# rotated-grid national systems: Borneo RSO, Malaysia RSO, Alaska
# state-plane zone 1. Variant B offsets the grid by the centre-to-aposphere
# distance u_c; variant A ("azimuth natural origin") does not.

def _hotine_consts(a, f, lat_c, lon_c, alpha_c, k_c):
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    pc = math.radians(lat_c)
    lc = math.radians(lon_c)
    ac = math.radians(alpha_c)
    B = math.sqrt(1 + e2 * math.cos(pc) ** 4 / (1 - e2))
    A = a * B * k_c * math.sqrt(1 - e2) / (1 - e2 * math.sin(pc) ** 2)
    t0 = math.tan(math.pi / 4 - pc / 2) / (
        (1 - e * math.sin(pc)) / (1 + e * math.sin(pc))
    ) ** (e / 2)
    D = B * math.sqrt(1 - e2) / (math.cos(pc) * math.sqrt(1 - e2 * math.sin(pc) ** 2))
    D2 = max(D * D, 1.0)
    sgn = 1.0 if lat_c >= 0 else -1.0
    F_ = D + math.sqrt(D2 - 1) * sgn
    H = F_ * t0 ** B
    G = (F_ - 1.0 / F_) / 2.0
    g0 = math.asin(math.sin(ac) / D)
    l0 = lc - math.asin(G * math.tan(g0)) / B
    uc = (A / B) * math.atan2(math.sqrt(D2 - 1), math.cos(ac)) * sgn
    return e, B, A, H, g0, l0, uc


def _hotine_forward(a, f, k_c, lat_c, lon_c, alpha_c, gamma_c, FE, FN,
                    variant="B", datum=None):
    e, B, A, H, g0, l0, uc = _hotine_consts(a, f, lat_c, lon_c, alpha_c, k_c)
    gc = math.radians(gamma_c)
    shift, _ = _datum_fns(datum)
    u_shift = uc if variant == "B" else 0.0

    def fn(arr: np.ndarray) -> np.ndarray:
        lon_d, lat_d = arr[:, 0], arr[:, 1]
        if shift is not None:
            lon_d, lat_d = shift(lon_d, lat_d)
        phi = np.radians(lat_d)
        lam = np.radians(lon_d)
        t = np.tan(np.pi / 4 - phi / 2) / (
            (1 - e * np.sin(phi)) / (1 + e * np.sin(phi))
        ) ** (e / 2)
        Q = H / t ** B
        S = (Q - 1 / Q) / 2
        T = (Q + 1 / Q) / 2
        V = np.sin(B * (lam - l0))
        U = (-V * math.cos(g0) + S * math.sin(g0)) / T
        v = A * np.log((1 - U) / (1 + U)) / (2 * B)
        u = A * np.arctan2(S * math.cos(g0) + V * math.sin(g0),
                           np.cos(B * (lam - l0))) / B - u_shift
        out = arr.copy()
        out[:, 0] = v * math.cos(gc) + u * math.sin(gc) + FE
        out[:, 1] = u * math.cos(gc) - v * math.sin(gc) + FN
        return out

    return fn


def _hotine_inverse(a, f, k_c, lat_c, lon_c, alpha_c, gamma_c, FE, FN,
                    variant="B", datum=None):
    e, B, A, H, g0, l0, uc = _hotine_consts(a, f, lat_c, lon_c, alpha_c, k_c)
    gc = math.radians(gamma_c)
    _, unshift = _datum_fns(datum)
    u_shift = uc if variant == "B" else 0.0

    def fn(arr: np.ndarray) -> np.ndarray:
        vp = (arr[:, 0] - FE) * math.cos(gc) - (arr[:, 1] - FN) * math.sin(gc)
        up = (arr[:, 1] - FN) * math.cos(gc) + (arr[:, 0] - FE) * math.sin(gc) + u_shift
        Qp = np.exp(-B * vp / A)
        Sp = (Qp - 1 / Qp) / 2
        Tp = (Qp + 1 / Qp) / 2
        Vp = np.sin(B * up / A)
        Up = (Vp * math.cos(g0) + Sp * math.sin(g0)) / Tp
        tp = (H / np.sqrt((1 + Up) / (1 - Up))) ** (1.0 / B)
        phi = _phi_from_t(tp, e)
        lam = l0 - np.arctan2(Sp * math.cos(g0) - Vp * math.sin(g0),
                              np.cos(B * up / A)) / B
        lon_d = np.degrees(lam)
        lat_d = np.degrees(phi)
        if unshift is not None:
            lon_d, lat_d = unshift(lon_d, lat_d)
        out = arr.copy()
        out[:, 0] = lon_d
        out[:, 1] = lat_d
        return out

    return fn


# ---- Krovak (EPSG method 9819; EPSG GN7-2 §3.2.9, public formulas): the
# S-JTSK oblique conformal conic of Czechia/Slovakia. Internally computes
# the classic Southing/Westing plane; EPSG 5514 ("Krovak East North")
# negates both axes.

def _krovak_consts(a, f, lat_c, lon0, alpha_c, lat_1, k_p):
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    pc = math.radians(lat_c)
    A_ = a * math.sqrt(1 - e2) / (1 - e2 * math.sin(pc) ** 2)
    B_ = math.sqrt(1 + e2 * math.cos(pc) ** 4 / (1 - e2))
    g0 = math.asin(math.sin(pc) / B_)
    t0 = (math.tan(math.pi / 4 + g0 / 2)
          * ((1 + e * math.sin(pc)) / (1 - e * math.sin(pc))) ** (e * B_ / 2)
          / math.tan(math.pi / 4 + pc / 2) ** B_)
    p1 = math.radians(lat_1)
    n = math.sin(p1)
    r0 = k_p * A_ / math.tan(p1)
    return e, B_, t0, n, r0, math.radians(alpha_c), p1, math.radians(lon0)


def _krovak_forward(a, f, k_p, lat_c, lon0, alpha_c, lat_1, FE, FN, datum=None):
    e, B_, t0, n, r0, ac, p1, lam0 = _krovak_consts(a, f, lat_c, lon0, alpha_c, lat_1, k_p)
    shift, _ = _datum_fns(datum)
    tan_p1 = math.tan(math.pi / 4 + p1 / 2) ** n

    def fn(arr: np.ndarray) -> np.ndarray:
        lon_d, lat_d = arr[:, 0], arr[:, 1]
        if shift is not None:
            lon_d, lat_d = shift(lon_d, lat_d)
        phi = np.radians(lat_d)
        lam = np.radians(lon_d)
        U = 2 * (np.arctan(
            t0 * np.tan(phi / 2 + np.pi / 4) ** B_
            / ((1 + e * np.sin(phi)) / (1 - e * np.sin(phi))) ** (e * B_ / 2)
        ) - np.pi / 4)
        V = B_ * (lam0 - lam)
        T = np.arcsin(math.cos(ac) * np.sin(U) + math.sin(ac) * np.cos(U) * np.cos(V))
        D = np.arcsin(np.cos(U) * np.sin(V) / np.cos(T))
        th = n * D
        r = r0 * tan_p1 / np.tan(T / 2 + np.pi / 4) ** n
        out = arr.copy()
        # EPSG 5514 axes: East = FE − Westing, North = FN − Southing
        out[:, 0] = FE - r * np.sin(th)
        out[:, 1] = FN - r * np.cos(th)
        return out

    return fn


def _krovak_inverse(a, f, k_p, lat_c, lon0, alpha_c, lat_1, FE, FN, datum=None):
    e, B_, t0, n, r0, ac, p1, lam0 = _krovak_consts(a, f, lat_c, lon0, alpha_c, lat_1, k_p)
    _, unshift = _datum_fns(datum)
    tan_p1 = math.tan(math.pi / 4 + p1 / 2)

    def fn(arr: np.ndarray) -> np.ndarray:
        Yp = FE - arr[:, 0]  # Westing
        Xp = FN - arr[:, 1]  # Southing
        r = np.hypot(Xp, Yp)
        th = np.arctan2(Yp, Xp)
        D = th / math.sin(p1)
        T = 2 * (np.arctan((r0 / r) ** (1.0 / n) * tan_p1) - np.pi / 4)
        U = np.arcsin(math.cos(ac) * np.sin(T) - math.sin(ac) * np.cos(T) * np.cos(D))
        V = np.arcsin(np.cos(T) * np.sin(D) / np.cos(U))
        lam = lam0 - V / B_
        phi = U.copy()
        for _ in range(8):
            phi = 2 * (np.arctan(
                t0 ** (-1.0 / B_) * np.tan(U / 2 + np.pi / 4) ** (1.0 / B_)
                * ((1 + e * np.sin(phi)) / (1 - e * np.sin(phi))) ** (e / 2)
            ) - np.pi / 4)
        lon_d = np.degrees(lam)
        lat_d = np.degrees(phi)
        if unshift is not None:
            lon_d, lat_d = unshift(lon_d, lat_d)
        out = arr.copy()
        out[:, 0] = lon_d
        out[:, 1] = lat_d
        return out

    return fn


# ---- Swiss Oblique Cylindrical ("Rosenmund", EPSG method 9815 as used by
# CH1903 / CH1903+): the same Gauss conformal sphere as the Oblique
# Stereographic, followed by a spherical rotation moving the projection
# center onto the pseudo-equator and a plain spherical Mercator. Public
# formulas: Swisstopo, "Formulas and constants for the calculation of the
# Swiss conformal cylindrical projection".

def _swiss_consts(a, f, lat0, lon0):
    """Official Swisstopo constants: α, b0 = asin(sinφ0/α), R = a√(1−e²)/
    (1−e²sin²φ0), and the additive K fixing S(φ0) → b0."""
    e = math.sqrt(f * (2.0 - f))
    e2 = e * e
    phi0 = math.radians(lat0)
    alpha = math.sqrt(1 + e2 / (1 - e2) * math.cos(phi0) ** 4)
    b0 = math.asin(math.sin(phi0) / alpha)
    R = a * math.sqrt(1 - e2) / (1 - e2 * math.sin(phi0) ** 2)
    K = (math.log(math.tan(math.pi / 4 + b0 / 2))
         - alpha * math.log(math.tan(math.pi / 4 + phi0 / 2))
         + alpha * e / 2 * math.log((1 + e * math.sin(phi0)) / (1 - e * math.sin(phi0))))
    return e, alpha, b0, R, K, math.radians(lon0)


def _swiss_forward(a, f, k0, lat0, lon0, FE, FN, datum=None):
    e, alpha, b0, R, K, lam0 = _swiss_consts(a, f, lat0, lon0)
    shift, _ = _datum_fns(datum)
    s0, c0 = math.sin(b0), math.cos(b0)

    def fn(arr: np.ndarray) -> np.ndarray:
        lon_d, lat_d = arr[:, 0], arr[:, 1]
        if shift is not None:
            lon_d, lat_d = shift(lon_d, lat_d)
        phi = np.radians(lat_d)
        sp = np.sin(phi)
        S = (alpha * np.log(np.tan(np.pi / 4 + phi / 2))
             - alpha * e / 2 * np.log((1 + e * sp) / (1 - e * sp)) + K)
        b = 2 * np.arctan(np.exp(S)) - np.pi / 2
        dl = alpha * (np.radians(lon_d) - lam0)
        sb = c0 * np.sin(b) - s0 * np.cos(b) * np.cos(dl)
        lp = np.arctan2(np.cos(b) * np.sin(dl),
                        s0 * np.sin(b) + c0 * np.cos(b) * np.cos(dl))
        out = arr.copy()
        out[:, 0] = FE + R * k0 * lp
        out[:, 1] = FN + R * k0 * np.arctanh(sb)
        return out

    return fn


def _swiss_inverse(a, f, k0, lat0, lon0, FE, FN, datum=None):
    e, alpha, b0, R, K, lam0 = _swiss_consts(a, f, lat0, lon0)
    _, unshift = _datum_fns(datum)
    s0, c0 = math.sin(b0), math.cos(b0)

    def fn(arr: np.ndarray) -> np.ndarray:
        lp = (arr[:, 0] - FE) / (R * k0)
        sb = np.tanh((arr[:, 1] - FN) / (R * k0))
        cb = np.sqrt(1.0 - sb * sb)
        b = np.arcsin(np.clip(c0 * sb + s0 * cb * np.cos(lp), -1.0, 1.0))
        dl = np.arctan2(cb * np.sin(lp), c0 * cb * np.cos(lp) - s0 * sb)
        lam = lam0 + dl / alpha
        # invert S(φ) = ln tan(π/4 + b/2): fixed point on φ (Swisstopo)
        Sb_ = np.log(np.tan(np.pi / 4 + b / 2))
        phi = b.copy()
        for _ in range(10):
            sp = np.sin(phi)
            phi = 2 * np.arctan(np.exp(
                (Sb_ - K) / alpha + e * np.arctanh(e * sp)
            )) - np.pi / 2
        lon_d = np.degrees(lam)
        lat_d = np.degrees(phi)
        if unshift is not None:
            lon_d, lat_d = unshift(lon_d, lat_d)
        out = arr.copy()
        out[:, 0] = lon_d
        out[:, 1] = lat_d
        return out

    return fn


# EPSG -> (kind, params...) for the non-conic, non-TM projections.
# merc: (ellipsoid, k0, lon0, FE, FN) — 3395 World Mercator (variant A).
# pstereo: (ellipsoid, lat_ts, lon0, FE, FN) — polar science grids.
# osterea: (ellipsoid, k0, lat0, lon0, FE, FN, datum) — Dutch RD New;
# Amersfoort origin 52°09'22.178"N 5°23'15.500"E per the EPSG registry.
_MISC_CODES: dict[int, tuple] = {
    3395: ("merc", "WGS84", 1.0, 0.0, 0.0, 0.0),
    # WGS 84 / PDC Mercator (Pacific Disaster Center, central meridian 150E)
    3832: ("merc", "WGS84", 1.0, 150.0, 0.0, 0.0),
    3031: ("pstereo", "WGS84", -71.0, 0.0, 0.0, 0.0),
    3976: ("pstereo", "WGS84", -70.0, 0.0, 0.0, 0.0),
    3413: ("pstereo", "WGS84", 70.0, -45.0, 0.0, 0.0),
    3995: ("pstereo", "WGS84", 71.0, 0.0, 0.0, 0.0),
    28992: ("osterea", "BESSEL1841", 0.9999079,
            52.0 + 9.0 / 60.0 + 22.178 / 3600.0,
            5.0 + 23.0 / 60.0 + 15.5 / 3600.0,
            155000.0, 463000.0, "AMERSFOORT"),
    # CH1903+ / LV95 and CH1903 / LV03 (Bessel 1841, Bern origin
    # 46°57'08.66"N 7°26'22.50"E, k0=1, translation-only datum shift)
    2056: ("swiss", "BESSEL1841", 1.0,
           46.0 + 57.0 / 60.0 + 8.66 / 3600.0,
           7.0 + 26.0 / 60.0 + 22.5 / 3600.0,
           2600000.0, 1200000.0, "CH1903"),
    21781: ("swiss", "BESSEL1841", 1.0,
            46.0 + 57.0 / 60.0 + 8.66 / 3600.0,
            7.0 + 26.0 / 60.0 + 22.5 / 3600.0,
            600000.0, 200000.0, "CH1903"),
    # Timbalai 1948 / RSO Borneo (m) — Hotine variant B (the EPSG GN7-2
    # worked-example CRS, reproduced to ~1 mm in tests)
    29873: ("hotine", "EVEREST1967", 0.99984, 4.0, 115.0,
            53.0 + 18.0 / 60.0 + 56.9537 / 3600.0,
            53.0 + 7.0 / 60.0 + 48.3685 / 3600.0,
            590476.87, 442857.65, "B", "TIMBALAI"),
    # NAD83 / Alaska zone 1 — Hotine variant A (azimuth natural origin)
    26931: ("hotine", "GRS80", 0.9999, 57.0, -(133.0 + 40.0 / 60.0),
            323.0 + 7.0 / 60.0 + 48.3685 / 3600.0,
            323.0 + 7.0 / 60.0 + 48.3685 / 3600.0,
            5000000.0, -5000000.0, "A", None),
    # S-JTSK / Krovak East North (Czechia + Slovakia); lon0 is 24°50' E of
    # Greenwich (= 42°30' E of Ferro per the registry)
    5514: ("krovak", "BESSEL1841", 0.9999, 49.5, 24.0 + 50.0 / 60.0,
           30.0 + 17.0 / 60.0 + 17.3031 / 3600.0, 78.5, 0.0, 0.0, "SJTSK"),
}

_MISC_KINDS = {
    "merc": (_merc_forward, _merc_inverse),
    "pstereo": (_pstereo_forward, _pstereo_inverse),
    "osterea": (_osterea_forward, _osterea_inverse),
    "swiss": (_swiss_forward, _swiss_inverse),
    "hotine": (_hotine_forward, _hotine_inverse),
    "krovak": (_krovak_forward, _krovak_inverse),
}


def _misc_code_fns(srid: int):
    t = _MISC_CODES.get(srid)
    if t is None:
        return None
    kind, ell, *params = t
    a_, f_ = _ELLIPSOIDS[ell]
    fwd_f, inv_f = _MISC_KINDS[kind]
    return fwd_f(a_, f_, *params), inv_f(a_, f_, *params)


# US survey foot (exactly 1200/3937 m): state-plane CRSs whose axis unit is
# ftUS. The projection math stays metric; coordinates are converted at the
# boundary.
_FTUS = 1200.0 / 3937.0
_CODE_UNIT: dict[int, float] = {2229: _FTUS, 2263: _FTUS}


def _unit_wrap(fwd, inv, unit: float):
    def fwd_u(arr: np.ndarray) -> np.ndarray:
        out = fwd(arr)
        out[:, :2] /= unit
        return out

    def inv_u(arr: np.ndarray) -> np.ndarray:
        a2 = arr.copy()
        a2[:, :2] *= unit
        return inv(a2)

    return fwd_u, inv_u


# proj4-registered custom CRSs (functions/proj4.py register_proj4):
# code -> (forward_from_wgs84, inverse_to_wgs84). Driver-side registry;
# st_to_srid snapshots it into the UDF closure so executors see it.
_CUSTOM_CRS: dict[int, tuple] = {}


def _code_fns(code: int, custom: dict | None = None):
    """(forward, inverse) for a supported EPSG code OR a proj4-registered
    custom code (the ``custom`` snapshot takes precedence; falls back to
    the driver-global registry for driver-side use)."""
    reg = custom if custom is not None else _CUSTOM_CRS
    pair = reg.get(code)
    if pair is not None:
        return pair
    return _code_fns_builtin(code)


def _code_fns_builtin(code: int):
    """(forward_from_wgs84, inverse_to_wgs84) for any supported projected
    EPSG code, axis-unit conversion included, or None."""
    if code == 3857:
        return _wgs84_to_webmerc, _webmerc_to_wgs84
    uz = _utm_zone(code)
    if uz is not None:
        return _wgs84_to_utm(*uz), _utm_to_wgs84(*uz)
    pair = _tm_code_fns(code) or _misc_code_fns(code)
    if pair is None:
        c = _CONIC_CODES.get(code)
        if c is not None:
            kind, *params = c
            pair = (_CONIC_KINDS[kind][0](*params), _CONIC_KINDS[kind][1](*params))
    if pair is None:
        # long-tail seed registry: EPSG parameter sets as proj4 strings,
        # resolved through the same tested build_proj4 machinery
        from polars_st_spark.functions.epsg_seeds import proj4_for_epsg

        defn = proj4_for_epsg(code)
        if defn is not None:
            from polars_st_spark.functions.proj4 import build_proj4

            pair = build_proj4(defn)
            return pair  # build_proj4 already applies +units
    if pair is None:
        return None
    unit = _CODE_UNIT.get(code)
    if unit is not None:
        pair = _unit_wrap(pair[0], pair[1], unit)
    return pair


def _from_wgs84_fn(dst: int, custom: dict | None = None):
    """WGS84 lon/lat -> projected CRS ``dst``, or None if unsupported."""
    pair = _code_fns(dst, custom)
    return pair[0] if pair is not None else None


def _to_wgs84_fn(src: int, custom: dict | None = None):
    """Projected CRS ``src`` -> WGS84 lon/lat, or None if unsupported."""
    pair = _code_fns(src, custom)
    return pair[1] if pair is not None else None


def _lookup_transform(src: int, dst: int, custom: dict | None = None):
    # custom-code transforms bypass the global cache: the snapshot travels
    # in the UDF closure and re-registration must not see stale entries
    reg = custom if custom is not None else _CUSTOM_CRS
    cacheable = src not in reg and dst not in reg
    if cacheable:
        f = _TRANSFORMS.get((src, dst))
        if f is not None:
            return f
    else:
        f = None
    if src == 4326:
        f = _from_wgs84_fn(dst, custom)
    elif dst == 4326:
        f = _to_wgs84_fn(src, custom)
    else:
        # compose through 4326 (e.g. 3857 -> UTM, Lambert-93 -> Albers)
        f1, f2 = _to_wgs84_fn(src, custom), _from_wgs84_fn(dst, custom)
        if f1 is not None and f2 is not None:
            g1, g2 = f1, f2
            f = lambda arr: g2(g1(arr))  # noqa: E731
    if not cacheable:
        return f
    if f is None:
        try:
            import pyproj

            tr = pyproj.Transformer.from_crs(src, dst, always_xy=True)

            def f(arr: np.ndarray) -> np.ndarray:
                out = arr.copy()
                out[:, 0], out[:, 1] = tr.transform(arr[:, 0], arr[:, 1])
                return out
        except Exception:
            return None
    _TRANSFORMS[(src, dst)] = f
    return f


def st_cast(col, into: str) -> Column:
    """Typed conversions with the reference's cast table
    (reference: functions.rs:61-177); invalid casts error."""
    from polars_st_spark.geo.cast import cast_geometry

    return unary_geom(lambda g: cast_geometry(g, into))(col_or_lit(col))


def st_precision(col) -> Column:
    """Grid precision of the geometry. EWKB does not serialize a precision
    grid, so round-tripped geometries always report 0.0 — identical to the
    reference, which also round-trips through EWKB (functions.rs:687-692)."""
    from polars_st_spark.functions.factory import unary_scalar

    return unary_scalar(lambda g: 0.0, "double")(col_or_lit(col))


def _set_precision_udf(grid_size: float, mode: str = "valid_output"):
    import numpy as np

    if grid_size == 0:
        # GEOS: grid 0 = full precision, a no-op (not a division by zero)
        return unary_geom(lambda g: g)

    def snap(g):
        def f(arr):
            out = arr.copy()
            out[:, :2] = np.round(arr[:, :2] / grid_size) * grid_size
            return out

        return g.map_coords(f)

    return _point_affine_udf(
        lambda x, y: (np.round(x / grid_size) * grid_size,
                      np.round(y / grid_size) * grid_size),
        snap,
    )


def st_set_precision(col, grid_size: float, mode: str = "valid_output") -> Column:
    """Snap coordinates to a grid (reference: functions.rs:693-701; modes
    valid_output/no_topo/keep_collapsed per args.rs:25-47 — the snap itself is
    mode-independent for valid inputs)."""
    return _set_precision_udf(grid_size, mode)(col_or_lit(col))


def st_delaunay_triangles(col, tolerance: float = 0.0, only_edges: bool = False) -> Column:
    """(reference: functions.rs:1364-1373)"""
    from polars_st_spark.geo.triangulate import delaunay_triangles

    return unary_geom(lambda g: delaunay_triangles(g, tolerance, only_edges))(col_or_lit(col))


def st_voronoi_polygons(col, tolerance: float = 0.0, extend_to=None, only_edges: bool = False) -> Column:
    """(reference: functions.rs:1791-1802)"""
    from polars_st_spark.geo.triangulate import voronoi_polygons

    ext = geom_arg(extend_to) if extend_to is not None else None
    if ext is not None and not isinstance(ext, Geometry):
        raise TypeError("extend_to must be a constant geometry")
    return unary_geom(lambda g: voronoi_polygons(g, tolerance, ext, only_edges))(col_or_lit(col))


def _coverage_union_fn(g: Geometry) -> Geometry:
    if g.geoms is None:
        raise ValueError("Geometry must be a collection")
    return setops.unary_union(g)


def st_coverage_union(col) -> Column:
    """Per-row union of a collection forming a coverage; errors on
    non-collections (reference: functions.rs:1194-1204)."""
    return unary_geom(_coverage_union_fn)(col_or_lit(col))


def _node_fn(g: Geometry) -> Geometry:
    from polars_st_spark.geo.algos import line_merge as _lm
    from polars_st_spark.geo.predicates import _decompose, _seg_intersect_kind
    import numpy as np

    chains = _decompose(g).lines
    segs = []
    for c in chains:
        for i in range(len(c) - 1):
            segs.append((c[i, :2].copy(), c[i + 1, :2].copy()))
    # split each segment at crossing points with all others
    out = []
    for i, (a, b) in enumerate(segs):
        ts = {0.0, 1.0}
        for j, (c_, e) in enumerate(segs):
            if i == j:
                continue
            if _seg_intersect_kind(a, b, c_, e) == 2:
                den = (a[0] - b[0]) * (c_[1] - e[1]) - (a[1] - b[1]) * (c_[0] - e[0])
                if den != 0:
                    t = ((a[0] - c_[0]) * (c_[1] - e[1]) - (a[1] - c_[1]) * (c_[0] - e[0])) / den
                    if 0 < t < 1:
                        ts.add(t)
        tl = sorted(ts)
        for t0, t1 in zip(tl[:-1], tl[1:]):
            p0 = a + t0 * (b - a)
            p1 = a + t1 * (b - a)
            out.append(Geometry(GeometryType.LineString, srid=g.srid, coords=np.array([p0, p1])))
    if not out:
        return Geometry(GeometryType.MultiLineString, srid=g.srid, geoms=[])
    return Geometry(GeometryType.MultiLineString, srid=g.srid, geoms=out)


def st_node(col) -> Column:
    """Node a linework: split segments at every crossing
    (reference: functions.rs:1409-1411)."""
    return unary_geom(_node_fn)(col_or_lit(col))


def _build_area_fn(g: Geometry) -> Geometry:
    import numpy as np
    from polars_st_spark.geo.algos import line_merge as _lm
    from polars_st_spark.geo.predicates import _point_in_ring_vec

    merged = _lm(g)
    chains = [merged.coords] if merged.type_id == GeometryType.LineString else [
        s.coords for s in (merged.geoms or [])
    ]
    rings = []
    for c in chains:
        if c is not None and len(c) >= 4 and np.allclose(c[0], c[-1]):
            rings.append(np.asarray(c, dtype=np.float64).copy())
    if not rings:
        return Geometry(GeometryType.Polygon, srid=g.srid, rings=[])
    if len(rings) == 1:
        return Geometry(GeometryType.Polygon, srid=g.srid, rings=rings)
    # nesting depth: parent = smallest strictly-containing ring
    def _abs_area(r):
        x = r[:, 0] - r[0, 0]
        y = r[:, 1] - r[0, 1]
        return abs(0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)))

    areas = [_abs_area(r) for r in rings]
    order = sorted(range(len(rings)), key=lambda i: -areas[i])
    parent = [None] * len(rings)
    for pos, i in enumerate(order):
        # probe a vertex of ring i against larger rings, innermost wins
        px = np.array([rings[i][0, 0]])
        py = np.array([rings[i][0, 1]])
        for j in reversed(order[:pos]):  # smallest enclosing candidate first
            if _point_in_ring_vec(px, py, rings[j])[0] == 2:
                parent[i] = j
                break
    depth = [0] * len(rings)
    for i in order:  # parents come earlier in size order
        depth[i] = 0 if parent[i] is None else depth[parent[i]] + 1
    shells = {i: [rings[i]] for i in range(len(rings)) if depth[i] % 2 == 0}
    for i in range(len(rings)):
        if depth[i] % 2 == 1:
            shells[parent[i]].append(rings[i])
    polys = [Geometry(GeometryType.Polygon, srid=g.srid, rings=shells[i])
             for i in sorted(shells)]
    if len(polys) == 1:
        return polys[0]
    return Geometry(GeometryType.MultiPolygon, srid=g.srid, geoms=polys)


def st_build_area(col) -> Column:
    """Form polygons from closed linework (reference: functions.rs:1393-1395).

    GEOS BuildArea semantics for disjoint/nested rings: rings nest by
    containment depth — even depth = shell, odd depth = hole of its
    immediate parent (input orientation is irrelevant), inner islands
    become their own polygons. Rings must close exactly; shared-edge
    coverage assembly (rings formed from partial edges of several chains)
    is not implemented — a documented deviation."""
    return unary_geom(_build_area_fn)(col_or_lit(col))


def _polygonize_fn(g: Geometry) -> Geometry:
    import numpy as np
    from polars_st_spark.geo.algos import line_merge as _lm

    merged = _lm(g)
    chains = [merged.coords] if merged.type_id == GeometryType.LineString else [
        s.coords for s in (merged.geoms or [])
    ]
    polys = []
    for c in chains:
        if c is not None and len(c) >= 4 and np.allclose(c[0], c[-1]):
            polys.append(Geometry(GeometryType.Polygon, srid=g.srid, rings=[c.copy()]))
    return Geometry(GeometryType.GeometryCollection, srid=g.srid, geoms=polys)


def st_polygonize(col) -> Column:
    """Per-row polygonize of closed linework; same support envelope as
    st_build_area but returns a GeometryCollection like the reference's
    aggregate (reference: functions.rs:1221-1226)."""
    return unary_geom(_polygonize_fn)(col_or_lit(col))


def _to_srid_udf(srid: int):
    """UDF builder behind :func:`st_to_srid`; see its docstring."""
    from polars_st_spark.geo.arrowwkb import uniform_batch_pa
    from polars_st_spark.geo.wkb import header_info, points_to_ewkb

    # snapshot of proj4-registered CRSs, captured into the UDF closure so
    # executors (which import a pristine module copy) can resolve them
    _custom = dict(_CUSTOM_CRS) if _CUSTOM_CRS else None

    def fn(g: Geometry) -> Geometry:
        src = g.srid
        if src == srid or g.is_empty() and src == 0:
            return g.with_srid(srid)
        f = _lookup_transform(src, srid, _custom)
        if f is None:
            raise ValueError(f"Unsupported SRID transform {src} -> {srid} (no pyproj in runtime)")
        return g.map_coords(f).with_srid(srid)

    @arrow_series_udf("binary")
    def udf(s: pd.Series) -> pd.Series:
        if not s.isna().any() and len(s):
            fast = uniform_batch_pa(s)
            if fast is not None and fast[0] == "point2d":
                src = header_info(bytes(s.iloc[0]))[3]
                if src == srid:
                    return s  # bytes already carry the target SRID
                if src != 0:
                    f = _lookup_transform(src, srid, _custom)
                    if f is not None:
                        arr = np.stack([fast[1], fast[2]], axis=1)
                        out = f(arr.copy())
                        return pd.Series(points_to_ewkb(out[:, 0], out[:, 1], srid=srid))
        if len(s):
            # ragged (multi)polygon / line batches (r4b): one projection call
            # over the whole flat coordinate matrix, coordinates spliced back
            # over the original bytes, SRID header word patched per row. The
            # pipelines are elementwise, so this is bit-identical to the
            # scalar map_coords path.
            from polars_st_spark.geo import ragged

            vals = s.to_numpy()
            parsed = ragged.parse_polygonal(vals) or ragged.parse_lineal(vals)
            if (
                parsed is not None
                and parsed.srid_uniform
                and parsed.srid
                and not parsed.child_srid
            ):
                if parsed.srid == srid:
                    return s
                f = _lookup_transform(parsed.srid, srid, _custom)
                if f is not None:
                    out = f(parsed.coords.copy())
                    return pd.Series(
                        ragged.splice_coords(vals, parsed, out, set_srid=srid),
                        dtype=object,
                    )
        from polars_st_spark.geo.wkb import from_ewkb, to_ewkb

        return pd.Series(
            [None if b is None else to_ewkb(fn(from_ewkb(bytes(b)))) for b in s],
            dtype=object,
        )

    return udf


def st_to_srid(col, srid: int) -> Column:
    """Reproject coordinates (reference: functions.rs:1868-1939).

    Supports the closed-form EPSG pipelines (Web/World Mercator, all UTM
    zones, parameterized Transverse Mercator + Helmert datum shifts,
    LCC/Albers/LAEA conics incl. ftUS state planes and spherical/polar
    LAEA aspects, polar stereographic + UPS, oblique stereographic (Dutch
    RD), Swiss oblique cylindrical, Hotine oblique Mercator) plus the
    long-tail seed registry (functions/epsg_seeds.py: ~330 further EPSG
    codes as proj4 parameter sets resolved through build_proj4 — WGS72/
    AGD/SAD69/Arc1960 UTM, Beijing54/Xian80/CGCS2000 Gauss-Krüger, RGF93
    CC, MTM, NTM, EASE grids, national TM/LCC grids, and common geographic
    datums); identity when source==target;
    raises otherwise (pyproj auto-fallback when importable). The transformer
    lookup is cached per (src, dst) exactly like the reference's per-call
    ProjCache (functions.rs:1900-1914). Uniform 2-D point batches — the
    dominant reprojection workload — project as ONE numpy call over the
    whole Arrow batch (the pipelines are elementwise, so results are
    bit-identical to the per-row path)."""
    return _to_srid_udf(srid)(col_or_lit(col))
