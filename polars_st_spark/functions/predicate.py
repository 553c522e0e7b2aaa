"""Binary spatial predicates (reference: §2.3, functions.rs:935-1094).

Each returns a BooleanType Column. The ``other`` side may be a Column or a
constant geometry (bytes/WKT/Geometry) — constants are decoded once and
broadcast via closure, mirroring the reference's scalar broadcasting
(reference: src/arity.rs:63-85).

Scale fast path: when BOTH Arrow batches decode as uniform 2-D points or
axis-aligned rectangles (the dominant shapes for geometry derived from
numeric columns), intersects/contains/within/covers/covered_by/disjoint are
evaluated as pure-numpy interval algebra — zero per-row Python. Points and
axis-rects equal their bounding boxes, so the interval tests are *exact*,
not approximations. Everything else falls back to the per-row kernels.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf

from polars_st_spark.functions.factory import (
    binary_scalar,
    col_or_lit,
    geom_arg,
    pa_out,
    per_row,
    spark_dt,
)
from polars_st_spark.geo import predicates as P
from polars_st_spark.geo import ragged as RG
from polars_st_spark.geo.arrowwkb import uniform_batch_pa
from polars_st_spark.geo.types import Geometry, GeometryType
from polars_st_spark.geo.wkb import to_ewkb

__all__ = [
    "st_intersects", "st_disjoint", "st_within", "st_contains",
    "st_contains_properly", "st_covers", "st_covered_by", "st_crosses",
    "st_touches", "st_overlaps", "st_equals", "st_equals_exact",
    "st_equals_identical", "st_relate", "st_relate_pattern", "st_dwithin",
    "st_intersects_xy", "st_contains_xy",
]


def _as_boxes(fast):
    """(x0, y0, x1, y1, is_point) from a uniform_batch_pa result, or None."""
    if fast is None:
        return None
    if fast[0] == "point2d":
        x, y = fast[1], fast[2]
        return (x, y, x, y, True)
    if fast[0] == "ring" and fast[2]:  # axis-aligned rectangles only
        c = fast[1]
        return (
            c[:, :, 0].min(axis=1), c[:, :, 1].min(axis=1),
            c[:, :, 0].max(axis=1), c[:, :, 1].max(axis=1), False,
        )
    return None


def _vec_predicate(name: str, A, B):
    """Exact vectorized predicate over point/axis-rect batches; None = no rule."""
    ax0, ay0, ax1, ay1, a_pt = A
    bx0, by0, bx1, by1, b_pt = B
    closed_overlap = (ax0 <= bx1) & (bx0 <= ax1) & (ay0 <= by1) & (by0 <= ay1)
    if name in ("intersects", "intersects_bbox"):
        return closed_overlap
    if name == "disjoint":
        return ~closed_overlap
    if name == "contains":
        # b within closure of a AND interiors intersect
        if a_pt:
            return (ax0 == bx0) & (ay0 == by0) & (ax1 == bx1) & (ay1 == by1)
        inside = (bx0 >= ax0) & (bx1 <= ax1) & (by0 >= ay0) & (by1 <= ay1)
        if b_pt:
            # point must hit a's interior: strict
            return (bx0 > ax0) & (bx0 < ax1) & (by0 > ay0) & (by0 < ay1)
        interior = (bx0 < ax1) & (bx1 > ax0) & (by0 < ay1) & (by1 > ay0)
        return inside & interior
    if name == "within":
        return _vec_predicate("contains", B, A)
    if name == "covers":
        if a_pt:
            return (ax0 == bx0) & (ay0 == by0) & (ax1 == bx1) & (ay1 == by1)
        return (bx0 >= ax0) & (bx1 <= ax1) & (by0 >= ay0) & (by1 <= ay1)
    if name == "covered_by":
        return _vec_predicate("covers", B, A)
    if name == "contains_properly":
        if a_pt:
            return (ax0 == bx0) & (ay0 == by0) & (ax1 == bx1) & (ay1 == by1) & False
        return (bx0 > ax0) & (bx1 < ax1) & (by0 > ay0) & (by1 < ay1)
    if name == "equals":
        return (ax0 == bx0) & (ay0 == by0) & (ax1 == bx1) & (ay1 == by1) & (a_pt == b_pt)
    return None


_FAST_NAMES = {
    "intersects", "disjoint", "contains", "within", "covers",
    "covered_by", "contains_properly", "equals",
}

# predicates answerable from a point-in-polygon location (0/1/2)
_LOC_NAMES = _FAST_NAMES - {"equals"} | {"touches"}


def _loc_predicate(name: str, loc: np.ndarray, point_is_a: bool):
    """Answer a predicate from per-row point locations (0 exterior /
    1 boundary / 2 interior), where one operand is a point and the other an
    areal geometry. Returns None when the (name, direction) combination
    isn't expressible (e.g. polygon-within-point) — caller falls back."""
    if name == "intersects":
        return loc != 0
    if name == "disjoint":
        return loc == 0
    if name == "touches":
        return loc == 1
    if point_is_a:  # a = point, b = polygon
        if name == "within":
            return loc == 2
        if name == "covered_by":
            return loc != 0
    else:  # a = polygon, b = point
        if name in ("contains", "contains_properly"):
            return loc == 2
        if name == "covers":
            return loc != 0
    return None


def _point_locs_const_poly(o: Geometry, px: np.ndarray, py: np.ndarray):
    """Vectorized 0/1/2 location of many points in ONE constant areal
    geometry (same hole/part semantics as predicates.point_in_polygon)."""
    d = P._decompose(o)
    if not d.polys or d.lines or d.points:
        return None
    best = np.zeros(len(px), dtype=np.int8)
    for rings in d.polys:
        st = P._point_in_ring_vec(px, py, rings[0])
        for hole in rings[1:]:
            h = P._point_in_ring_vec(px, py, hole)
            undecided = st == 2
            st = np.where(undecided & (h == 1), 1,
                          np.where(undecided & (h == 2), 0, st)).astype(np.int8)
        best = np.maximum(best, st)
    return best


def _const_box(o: Geometry):
    """Scalar box for a constant geometry (numpy broadcasts it), or None."""
    from polars_st_spark.geo.algos import _is_axis_rect
    from polars_st_spark.geo.types import GeometryType

    if o.type_id == GeometryType.Point and o.coords is not None:
        x, y = float(o.coords[0]), float(o.coords[1])
        return (x, y, x, y, True)
    if _is_axis_rect(o):
        x0, y0, x1, y1 = o.bounds()
        return (x0, y0, x1, y1, False)
    return None


def _scalar_fill(res: np.ndarray, dec: np.ndarray, fn, a1, a2):
    """Certain rows from a trivalent CSR kernel + scalar fills for the
    undecided remainder."""
    undec = np.nonzero(~dec)[0]
    if not len(undec):
        return res
    return per_row(fn, a1, a2, rows=undec, out=res.astype(object))


def _transpose_mat(m: str) -> str:
    return m[0] + m[3] + m[6] + m[1] + m[4] + m[7] + m[2] + m[5] + m[8]


def _matrix_predicate(name: str, m: str, da: int, db: int) -> bool:
    """Evaluate a boolean pair predicate from a DE-9IM matrix with the
    scalar kernel's exact pattern logic (geo/predicates.py). ``m`` is
    relate(inner, outer) for the containment family (the dispatch's
    already-swapped parse order) and relate(a, b) otherwise."""
    M = P._matches
    if name in ("within", "contains"):
        return M("T*F**F***", m)
    if name in ("covers", "covered_by"):
        mt = _transpose_mat(m)  # covers(outer, inner) on relate(outer, inner)
        return (M("T*****FF*", mt) or M("*T****FF*", mt)
                or M("***T**FF*", mt) or M("****T*FF*", mt))
    if name == "contains_properly":
        return M("T**FF*FF*", _transpose_mat(m))
    if name == "touches":
        return M("FT*******", m) or M("F**T*****", m) or M("F***T****", m)
    if name == "crosses":
        if da < db:
            return M("T*T******", m)
        if da > db:
            return M("T*****T**", m)
        if da == 1 and db == 1:
            return M("0********", m)
        return False
    if name == "overlaps":
        if da != db:
            return False
        return M("1*T***T**" if da == 1 else "T*T***T**", m)
    raise ValueError(name)


def _relate_fill(res, dec, fn, a1, a2, name, aA, aB):
    """Stage 2 for the boolean pair predicates (r4g): rows the trivalent
    kernel left undecided carry genuine boundary contact — exactly the
    shapes the full DE-9IM CSR kernel's contact buckets decide
    closed-form. Run ``pairs_relate`` on just the undecided subset and
    read the predicate off each decided matrix with the scalar's own
    pattern; only rows the relate kernel ALSO leaves undecided take the
    per-row scalar fallback. ``aA/aB`` (null-free ``pa.Array``s) are in
    the matrix-evaluation order (inner, outer for the containment
    family); ``a1/a2`` stay in caller order for the scalar fn."""
    undec = np.nonzero(~dec)[0]
    if not len(undec):
        return res
    out_res = res.astype(object)
    solved = np.zeros(len(undec), dtype=bool)
    if len(undec) >= 4:
        bA, bB = aA.take(undec), aB.take(undec)
        rr = None
        da = db = 2
        # rect×rect contact rows: closed-form DE-9IM (r11) — the exact
        # shape CSR containment/touch kernels leave undecided in
        # coverage-topology joins (shared edges/corners)
        fa_ = uniform_batch_pa(bA)
        fb_ = uniform_batch_pa(bB) if fa_ is not None else None
        if (fa_ is not None and fa_[0] == "ring" and fa_[2]
                and fb_ is not None and fb_[0] == "ring" and fb_[2]):
            rr = _rect_relate_mats(_as_boxes(fa_), _as_boxes(fb_))
        if rr is None:
            qa, da = RG.parse_polygonal(bA), 2
            if qa is None:
                qa, da = RG.parse_lineal(bA), 1
            qb, db = RG.parse_polygonal(bB), 2
            if qb is None:
                qb, db = RG.parse_lineal(bB), 1
            if qa is not None and qb is not None:
                rr = RG.pairs_relate(qa, qb)
        if rr is not None:
            mats, dec2 = rr
            for j, k in enumerate(undec):
                if dec2[j]:
                    out_res[k] = _matrix_predicate(name, mats[j], da, db)
                    solved[j] = True
    return per_row(fn, a1, a2, rows=undec[~solved], out=out_res)


_PAIRED_KERNEL_NAMES = frozenset({
    "intersects", "disjoint", "within", "contains", "covers", "covered_by",
    "contains_properly", "touches", "crosses", "overlaps",
})


def eval_pairs_predicate(name: str, a1: pa.Array, a2: pa.Array, fn):
    """Row-paired boolean pair predicate over aligned null-free EWKB
    arrays through the full batched stack: the family's trivalent CSR
    kernel where one exists, the DE-9IM contact buckets for its undecided
    boundary-contact rows (stage-2 ``_relate_fill``), and the per-row
    scalar only as the last resort. Returns one bool per row (an ndarray
    or list). Shared by the Column predicate dispatch and (r4h) the sjoin
    broadcast refinement, so STRtree candidate verification is batch-speed
    for every predicate, not just intersects. Callers route null rows
    elsewhere."""
    def parse_any(a):
        pp = RG.parse_polygonal(a)
        return pp if pp is not None else RG.parse_lineal(a)

    if name in ("intersects", "disjoint"):
        # row-paired polygonal/lineal pairs: CSR probe + segment-pair
        # kernel; None = pair product too large for one allocation, the
        # scalar loop amortizes better there
        rpa = parse_any(a1)
        rpb = parse_any(a2) if rpa is not None else None
        if rpa is not None and rpb is not None:
            r = RG.pairs_intersect(rpa, rpb)
            if r is not None:
                return r if name == "intersects" else ~r
    elif name in ("within", "contains", "covers", "covered_by",
                  "contains_properly"):
        # conservative CSR containment: certain rows vectorized,
        # boundary-contact rows resolve through the relate contact buckets
        swap = name in ("contains", "covers", "contains_properly")
        aA, aB = (a2, a1) if swap else (a1, a2)
        pb2 = RG.parse_polygonal(aB)
        pa2 = parse_any(aA) if pb2 is not None else None
        if pa2 is not None and pb2 is not None:
            res, dec = RG.pairs_within(pa2, pb2)
            return _relate_fill(res, dec, fn, a1, a2, name, aA, aB)
    elif name == "touches":
        pa3 = parse_any(a1)
        pb3 = parse_any(a2) if pa3 is not None else None
        if pa3 is not None and pb3 is not None:
            res, dec = RG.pairs_touches(pa3, pb3)
            return _relate_fill(res, dec, fn, a1, a2, name, a1, a2)
    elif name in ("crosses", "overlaps"):
        pa4 = parse_any(a1)
        pb4 = parse_any(a2) if pa4 is not None else None
        if pa4 is not None and pb4 is not None:
            kern = RG.pairs_crosses if name == "crosses" else RG.pairs_overlaps
            res, dec = kern(pa4, pb4)
            return _relate_fill(res, dec, fn, a1, a2, name, a1, a2)
    return per_row(fn, a1, a2)


def _pair_udf(name: str, fn, ret="boolean"):
    """Two-geometry-column arrow UDF for predicate ``name`` — constructed
    once per predicate at module import (BooleanType instance, no session
    needed) and exposed via ``st_<name>._sql_udf`` so
    register_sql_functions can install the exact same vectorized kernel as
    a Spark SQL function. Null-free batches try, in order: the interval
    algebra when both sides parse as uniform point/axis-rect batches (on
    zero-copy views of the Arrow buffers — the b2/filter_pairs refinement
    shape), row-paired point location against a ragged polygon column, and
    the full pair stack (:func:`eval_pairs_predicate`); everything else is
    per-row."""
    loc_ok2 = ret == "boolean" and name in _LOC_NAMES
    pair_ok = ret == "boolean" and name in _PAIRED_KERNEL_NAMES
    from pyspark.sql.types import BooleanType, StringType

    rt = BooleanType() if ret == "boolean" else StringType()

    def lanes(a1, a2):
        fa = uniform_batch_pa(a1)
        fb = uniform_batch_pa(a2)
        if name in _FAST_NAMES and fa is not None and fb is not None:
            A = _as_boxes(fa)
            B = _as_boxes(fb) if A is not None else None
            if A is not None and B is not None:
                r = _vec_predicate(name, A, B)
                if r is not None:
                    return r
        if loc_ok2:
            # row-paired point vs arbitrary-polygon columns (either side)
            for pt, other, point_is_a in ((fa, a2, True), (fb, a1, False)):
                if pt is not None and pt[0] == "point2d":
                    rp = RG.parse_polygonal(other)
                    if rp is not None:
                        loc = RG.locate_points(rp, pt[1], pt[2])
                        r = _loc_predicate(name, loc, point_is_a=point_is_a)
                        if r is not None:
                            return r
                    break
        if pair_ok:
            # full batched stack: family CSR kernel -> relate contact
            # buckets -> per-row scalar (shared with the sjoin broadcast
            # refinement)
            return eval_pairs_predicate(name, a1, a2, fn)
        return None

    @arrow_udf(rt)
    def udf2(a1, a2):
        out = None
        if (ret == "boolean" and (name in _FAST_NAMES or loc_ok2 or pair_ok)
                and not a1.null_count and not a2.null_count):
            out = lanes(a1, a2)
        return pa_out(out if out is not None else per_row(fn, a1, a2), ret)

    return udf2


def _mk(name: str, fn, ret="boolean"):
    udf2 = _pair_udf(name, fn, ret)

    def outer(col, other) -> Column:
        o = geom_arg(other)
        if isinstance(o, Geometry):
            loc_ok = ret == "boolean" and name in _LOC_NAMES
            B_const = _const_box(o) if ret == "boolean" and name in _FAST_NAMES else None
            o_is_point = o.type_id == GeometryType.Point and o.coords is not None

            def lanes1(a1):
                fast = uniform_batch_pa(a1)
                if B_const is not None and fast is not None:
                    A = _as_boxes(fast)
                    if A is not None:
                        r = _vec_predicate(name, A, B_const)
                        if r is not None:
                            return r
                if loc_ok and fast is not None and fast[0] == "point2d":
                    # point column vs constant areal geometry
                    loc = _point_locs_const_poly(o, fast[1], fast[2])
                    if loc is not None:
                        r = _loc_predicate(name, loc, point_is_a=True)
                        if r is not None:
                            return r
                if loc_ok and o_is_point and (fast is None or fast[0] != "point2d"):
                    # ragged polygon column vs constant point
                    rp = RG.parse_polygonal(a1)
                    if rp is not None:
                        n = len(a1)
                        loc = RG.locate_points(
                            rp,
                            np.full(n, float(o.coords[0])),
                            np.full(n, float(o.coords[1])),
                        )
                        return _loc_predicate(name, loc, point_is_a=False)
                return None

            # r11: arrow lane — zero-copy interval algebra against the
            # constant box (point-in-rect sweeps etc.); the point-vs-const-
            # polygon locate path reads x/y straight off the Arrow buffers
            @arrow_udf(spark_dt(ret))
            def udf1(a1):
                out = None
                if (B_const is not None or loc_ok) and not a1.null_count:
                    out = lanes1(a1)
                return pa_out(out if out is not None else per_row(fn, a1, o), ret)

            from polars_st_spark.functions import fuse

            c = col_or_lit(col)
            fused1 = fuse.apply_unary(udf1, ret, c)
            return fused1 if fused1 is not None else udf1(c)

        from polars_st_spark.functions import fuse

        c = col_or_lit(col)
        fused = fuse.apply_pair(udf2, ret, c, o)
        return fused if fused is not None else udf2(c, o)

    outer._sql_udf = udf2
    return outer


st_intersects = _mk("intersects", P.intersects)
st_disjoint = _mk("disjoint", P.disjoint)
st_within = _mk("within", P.within)
st_contains = _mk("contains", P.contains)
st_contains_properly = _mk("contains_properly", P.contains_properly)
st_covers = _mk("covers", P.covers)
st_covered_by = _mk("covered_by", P.covered_by)
st_crosses = _mk("crosses", P.crosses)
st_touches = _mk("touches", P.touches)
st_overlaps = _mk("overlaps", P.overlaps)
st_equals = _mk("equals", P.equals)
st_equals_identical = _mk("equals_identical", P.equals_identical)


def st_equals_exact(col, other, tolerance: float = 0.0) -> Column:
    udf, oc = binary_scalar(
        lambda a, b: P.equals_exact(a, b, tolerance), "boolean", geom_arg(other)
    )
    return udf(col_or_lit(col)) if oc is None else udf(col_or_lit(col), oc)


# point-vs-areal DE-9IM matrices by point location (0 exterior / 1 boundary
# / 2 interior); the polygon side's EI=2 / EB=1 terms hold for any
# non-degenerate areal geometry (scalar dimension shortcut + shell probes)
_PT_POLY_MATS = ("FF0FFF212", "F0FFFF212", "0FFFFF212")  # A point, B areal
_POLY_PT_MATS = ("FF2FF10F2", "FF20F1FF2", "0F2FF1FF2")  # A areal, B point


def _parse_family(a):
    p = RG.parse_polygonal(a)
    if p is None:
        p = RG.parse_lineal(a)
    return p


_DE9IM_CHARS = np.array(list("F012"))


def _rect_relate_mats(A, B):
    """Closed-form DE-9IM matrices for row-paired NON-DEGENERATE axis-rect
    operands (r11 — the coverage-topology shape: b2a_relate_adjacent ran
    600k edge-touching pairs through the per-row scalar kernel because the
    contact buckets of pairs_relate deliberately leave boundary contact
    undecided). Boxes ARE the geometries here, and both interior and
    boundary factorize per axis — I(A) = (ax0,ax1)×(ay0,ay1), ∂A =
    (∂Ax×Ay) ∪ (Ax×∂Ay) — so every DE-9IM cell reduces to 1-D interval
    algebra, exact (no tolerance; the scalar kernel's segment arithmetic
    on axis-parallel edges is exact float comparison too, so decided rows
    are scalar-parity — asserted pairwise over the 13×13 Allen grid in
    tests/test_r11_kernels.py::TestRectRelate::test_allen_grid_parity).

    Returns (mats object array, decided bool array): degenerate rows
    (zero width/height on either side) stay undecided for the scalar
    kernel."""
    ax0, ay0, ax1, ay1, _ = A
    bx0, by0, bx1, by1, _ = B
    nondeg = (ax0 < ax1) & (ay0 < ay1) & (bx0 < bx1) & (by0 < by1)
    # per-axis interval tests (closed rect sides; open = interior)
    ox_open = (ax0 < bx1) & (bx0 < ax1)   # open-x overlap (== open∩closed
    oy_open = (ay0 < by1) & (by0 < ay1)   # nonempty for non-deg intervals)
    ox_any = (ax0 <= bx1) & (bx0 <= ax1)  # closed-x overlap nonempty
    oy_any = (ay0 <= by1) & (by0 <= ay1)
    ox_len = np.minimum(ax1, bx1) > np.maximum(ax0, bx0)  # overlap has length
    oy_len = np.minimum(ay1, by1) > np.maximum(ay0, by0)
    # ∂B endpoint strictly inside A's open interval (per axis), and mirrored
    qx_open = ((bx0 > ax0) & (bx0 < ax1)) | ((bx1 > ax0) & (bx1 < ax1))
    qy_open = ((by0 > ay0) & (by0 < ay1)) | ((by1 > ay0) & (by1 < ay1))
    px_open = ((ax0 > bx0) & (ax0 < bx1)) | ((ax1 > bx0) & (ax1 < bx1))
    py_open = ((ay0 > by0) & (ay0 < by1)) | ((ay1 > by0) & (ay1 < by1))
    # ∂A endpoint within B's closed interval (per axis), and mirrored
    px = ((ax0 >= bx0) & (ax0 <= bx1)) | ((ax1 >= bx0) & (ax1 <= bx1))
    py = ((ay0 >= by0) & (ay0 <= by1)) | ((ay1 >= by0) & (ay1 <= by1))
    qx = ((bx0 >= ax0) & (bx0 <= ax1)) | ((bx1 >= ax0) & (bx1 <= ax1))
    qy = ((by0 >= ay0) & (by0 <= ay1)) | ((by1 >= ay0) & (by1 <= ay1))
    # shared boundary value per axis
    sx = (ax0 == bx0) | (ax0 == bx1) | (ax1 == bx0) | (ax1 == bx1)
    sy = (ay0 == by0) | (ay0 == by1) | (ay1 == by0) | (ay1 == by1)
    a_in_b = (ax0 >= bx0) & (ax1 <= bx1) & (ay0 >= by0) & (ay1 <= by1)
    b_in_a = (bx0 >= ax0) & (bx1 <= ax1) & (by0 >= ay0) & (by1 <= ay1)

    # cell codes: 0='F', 1='0', 2='1', 3='2'
    z = np.zeros(len(ax0), dtype=np.int8)
    II = np.where(ox_open & oy_open, 3, 0).astype(np.int8)
    IB = np.where((qx_open & oy_open) | (ox_open & qy_open), 2, 0).astype(np.int8)
    BI = np.where((px_open & oy_open) | (ox_open & py_open), 2, 0).astype(np.int8)
    bb1 = (sx & oy_len) | (sy & ox_len)
    bb0 = (sx & oy_any) | (sy & ox_any) | (px & qy) | (qx & py)
    BB = np.where(bb1, 2, np.where(bb0, 1, 0)).astype(np.int8)
    IE = np.where(a_in_b, 0, 3).astype(np.int8)
    BE = np.where(a_in_b, 0, 2).astype(np.int8)
    EI = np.where(b_in_a, 0, 3).astype(np.int8)
    EB = np.where(b_in_a, 0, 2).astype(np.int8)
    EE = z + 3
    cells = np.stack([II, IB, IE, BI, BB, BE, EI, EB, EE], axis=1)
    # few distinct matrices per batch: string-build once per unique row
    codes = (cells.astype(np.int32) * (4 ** np.arange(9, dtype=np.int32))).sum(axis=1)
    uniq, inv = np.unique(codes, return_inverse=True)
    pool = np.empty(len(uniq), dtype=object)
    first = np.zeros(len(uniq), dtype=np.int64)
    first[inv[::-1]] = np.arange(len(codes) - 1, -1, -1)
    for u in range(len(uniq)):
        pool[u] = "".join(_DE9IM_CHARS[cells[first[u]]])
    mats = pool[inv]
    mats[~nondeg] = None
    return mats, nondeg


def _relate_matrices(s1: pa.Array, s2: pa.Array, fa=None, fb=None):
    """(matrices object-array, decided bool-array) from the vectorized
    CSR kernels (point×point, point×polygon both directions, rect×rect
    closed-form, and geo.ragged.pairs_relate for polygonal/lineal pairs),
    or None when no batch shape applies. Decided rows are exact scalar
    parity; undecided rows need the per-row DE-9IM kernel."""
    n = len(s1)
    if fa is None:
        fa = uniform_batch_pa(s1)
    if fb is None:
        fb = uniform_batch_pa(s2)
    a_pt = fa is not None and fa[0] == "point2d"
    b_pt = fb is not None and fb[0] == "point2d"
    if a_pt and b_pt:
        # scalar point-point coincidence uses the _EPS tolerance
        eq = (np.abs(fa[1] - fb[1]) <= RG._EPS) & (np.abs(fa[2] - fb[2]) <= RG._EPS)
        mats = np.where(eq, "0FFFFFFF2", "FF0FFF0F2").astype(object)
        return mats, np.ones(n, dtype=bool)
    if a_pt or b_pt:
        rp = RG.parse_polygonal(s2 if a_pt else s1)
        if rp is None:
            return None
        pt = fa if a_pt else fb
        loc = RG.locate_points(rp, pt[1], pt[2])
        table = _PT_POLY_MATS if a_pt else _POLY_PT_MATS
        mats = np.choose(loc, table).astype(object)
        _, _, deg = RG._family_meta(rp)  # collapsed rings → scalar
        mats[deg] = None
        return mats, ~deg
    if (fa is not None and fa[0] == "ring" and fa[2]
            and fb is not None and fb[0] == "ring" and fb[2]):
        # rect×rect: every cell closed-form (degenerate rows undecided)
        return _rect_relate_mats(_as_boxes(fa), _as_boxes(fb))
    pa = _parse_family(s1)
    pb = _parse_family(s2) if pa is not None else None
    if pa is None or pb is None:
        return None
    return RG.pairs_relate(pa, pb)


def _relate_series(a1: pa.Array, a2: pa.Array):
    """DE-9IM matrix strings (None at null rows) for two aligned EWKB
    arrays: the vectorized kernels of :func:`_relate_matrices`, then the
    per-row scalar for the rows they leave undecided."""
    if not a1.null_count and not a2.null_count:
        rm = _relate_matrices(a1, a2)
        if rm is not None:
            return _scalar_fill(rm[0], rm[1], P.relate, a1, a2)
    return per_row(P.relate, a1, a2)


_REL_CONST_MAX = 1 << 26  # cap on replicated constant bytes per batch


def st_relate(col, other) -> Column:
    """DE-9IM intersection matrix string (reference: functions.rs:1052-1060).

    Vectorized via the conservative CSR kernels: disjoint, point-location
    and strict-containment rows decide in numpy; genuine boundary
    interplay falls back to the scalar kernel row-by-row."""
    o = geom_arg(other)
    if isinstance(o, Geometry):
        ob = bytes(to_ewkb(o))

        @arrow_udf(spark_dt("string"))
        def udf1(a):
            if len(a) * len(ob) <= _REL_CONST_MAX:
                return pa_out(_relate_series(a, _repeat(ob, len(a))), "string")
            return pa_out(per_row(P.relate, a, o), "string")

        from polars_st_spark.functions import fuse

        c = col_or_lit(col)
        fused1 = fuse.apply_unary(udf1, "string", c)
        return fused1 if fused1 is not None else udf1(c)

    from polars_st_spark.functions import fuse

    c = col_or_lit(col)
    udf2 = _relate_pair_udf()
    fused = fuse.apply_pair(udf2, "string", c, o)
    return fused if fused is not None else udf2(c, o)


def _relate_pair_udf():
    """Two-geometry-column relate UDF builder (shared with the SQL
    registry)."""

    @arrow_udf(spark_dt("string"))
    def udf2(a1, a2):
        return pa_out(_relate_series(a1, a2), "string")

    return udf2


def _repeat(b: bytes, n: int) -> pa.Array:
    return pa.array([b] * n, type=pa.binary())


def st_relate_pattern(col, other, pattern: str) -> Column:
    """relate() matched against a DE-9IM pattern (T/F/0/1/2/*), through
    the same vectorized matrix path as :func:`st_relate`."""
    o = geom_arg(other)

    if isinstance(o, Geometry):
        ob = bytes(to_ewkb(o))

        @arrow_udf(spark_dt("boolean"))
        def udf1(a):
            if len(a) * len(ob) <= _REL_CONST_MAX:
                out = _match(pattern, _relate_series(a, _repeat(ob, len(a))))
            else:
                out = per_row(lambda g: P.relate_pattern(g, o, pattern), a)
            return pa_out(out, "boolean")

        from polars_st_spark.functions import fuse

        c = col_or_lit(col)
        fused1 = fuse.apply_unary(udf1, "boolean", c)
        return fused1 if fused1 is not None else udf1(c)

    from polars_st_spark.functions import fuse

    c = col_or_lit(col)
    udf2 = _relate_pattern_pair_udf(pattern)
    fused = fuse.apply_pair(udf2, "boolean", c, o)
    return fused if fused is not None else udf2(c, o)


def _match(pattern: str, mats) -> list:
    return [None if m is None else P._matches(pattern, m) for m in mats]


def _relate_pattern_pair_udf(pattern: str):
    """Two-geometry-column relate_pattern UDF builder (shared with the SQL
    registry)."""

    @arrow_udf(spark_dt("boolean"))
    def udf2(a1, a2):
        return pa_out(_match(pattern, _relate_series(a1, a2)), "boolean")

    return udf2


def st_dwithin(col, other, distance: float) -> Column:
    """distance(a,b) < d, strict (reference: functions.rs:984-990).
    Vectorized for point-vs-point batches."""
    return _dwithin_impl(col, other, distance)


def _dwithin_impl(col, other, distance: float) -> Column:
    o = geom_arg(other)
    if isinstance(o, Geometry):
        B_const = _const_box(o)

        @arrow_udf(spark_dt("boolean"))
        def udf1(a):
            if B_const is not None and B_const[4]:
                A = _as_boxes(uniform_batch_pa(a))
                if A is not None and A[4]:
                    d = np.sqrt((A[0] - B_const[0]) ** 2 + (A[1] - B_const[1]) ** 2)
                    return pa_out(d < distance, "boolean")
            return pa_out(per_row(P.dwithin, a, o, distance), "boolean")

        from polars_st_spark.functions import fuse

        c = col_or_lit(col)
        fused1 = fuse.apply_unary(udf1, "boolean", c)
        return fused1 if fused1 is not None else udf1(c)

    from polars_st_spark.functions import fuse

    c = col_or_lit(col)
    udf2 = _dwithin_pair_udf(distance)
    fused = fuse.apply_pair(udf2, "boolean", c, col_or_lit(o))
    return fused if fused is not None else udf2(c, col_or_lit(o))


def _dwithin_pair_udf(distance: float):
    """Two-geometry-column dwithin UDF builder (shared with the SQL registry)."""

    def lanes(a1, a2):
        fa = uniform_batch_pa(a1)
        fb = uniform_batch_pa(a2)
        A = _as_boxes(fa)
        B = _as_boxes(fb) if A is not None else None
        if A is not None and B is not None and A[4] and B[4]:
            return np.sqrt((A[0] - B[0]) ** 2 + (A[1] - B[1]) ** 2) < distance
        # point column vs ragged polygon/line column (either order, r4b):
        # the CSR distance sweep + strict-< (NaN empties -> False, like
        # the scalar kernel)
        a_pt = fa is not None and fa[0] == "point2d"
        b_pt = fb is not None and fb[0] == "point2d"
        for pt, other in ((fa, a2), (fb, a1)) if (a_pt or b_pt) else ():
            if pt is None or pt[0] != "point2d":
                continue
            rp = RG.parse_polygonal(other)
            if rp is not None:
                return RG.distance_to_points(rp, pt[1], pt[2]) < distance
            rl = RG.parse_lineal(other)
            if rl is not None:
                return RG.distance_lines_to_points(rl, pt[1], pt[2]) < distance
        if not (a_pt or b_pt):
            # geometry×geometry pairs (r4e): the row-paired distance
            # kernel + strict-< (NaN empties -> False, scalar parity)
            pa_, pb_ = _parse_family(a1), None
            if pa_ is not None:
                pb_ = _parse_family(a2)
            if pa_ is not None and pb_ is not None:
                d = RG.pairs_distance(pa_, pb_)
                if d is not None:
                    with np.errstate(invalid="ignore"):
                        return d < distance
        return None

    @arrow_udf(spark_dt("boolean"))
    def udf2(a1, a2):
        out = None
        if len(a1) and not a1.null_count and not a2.null_count:
            out = lanes(a1, a2)
        if out is None:
            out = per_row(P.dwithin, a1, a2, distance)
        return pa_out(out, "boolean")

    return udf2


def st_intersects_xy(col, x: float, y: float) -> Column:
    """(reference: functions.rs:1072-1082)"""
    from polars_st_spark.functions.factory import unary_scalar

    return unary_scalar(lambda g: P.intersects_xy(g, x, y), "boolean")(col_or_lit(col))


def st_contains_xy(col, x: float, y: float) -> Column:
    """(reference: functions.rs:1084-1094)"""
    from polars_st_spark.functions.factory import unary_scalar

    return unary_scalar(lambda g: P.contains_xy(g, x, y), "boolean")(col_or_lit(col))