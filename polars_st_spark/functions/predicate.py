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
import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf

from polars_st_spark.functions.factory import (
    arrow_series_udf,
    binary_scalar,
    col_or_lit,
    geom_arg,
    spark_dt,
)
from polars_st_spark.geo import predicates as P
from polars_st_spark.geo import ragged as RG
from polars_st_spark.geo.arrowwkb import uniform_batch_pa
from polars_st_spark.geo.types import Geometry, GeometryType
from polars_st_spark.geo.wkb import from_ewkb, to_ewkb

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


def _scalar_fill(res: np.ndarray, dec: np.ndarray, fn, s1, s2) -> pd.Series:
    """Certain rows from a trivalent CSR kernel + scalar fills for the
    undecided remainder."""
    undec = np.nonzero(~dec)[0]
    if not len(undec):
        return pd.Series(res)
    out_res = res.astype(object)
    for k in undec:
        out_res[k] = fn(from_ewkb(bytes(s1.iloc[k])), from_ewkb(bytes(s2.iloc[k])))
    return pd.Series(out_res, dtype=object)


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


def _relate_fill(res, dec, fn, s1, s2, name, sA, sB) -> pd.Series:
    """Stage 2 for the boolean pair predicates (r4g): rows the trivalent
    kernel left undecided carry genuine boundary contact — exactly the
    shapes the full DE-9IM CSR kernel's contact buckets decide
    closed-form. Run ``pairs_relate`` on just the undecided subset and
    read the predicate off each decided matrix with the scalar's own
    pattern; only rows the relate kernel ALSO leaves undecided take the
    per-row scalar fallback. ``sA/sB`` are in the matrix-evaluation order
    (inner, outer for the containment family); ``s1/s2`` stay in caller
    order for the scalar fn."""
    undec = np.nonzero(~dec)[0]
    if not len(undec):
        return pd.Series(res)
    out_res = res.astype(object)
    solved = np.zeros(len(undec), dtype=bool)
    sub = [k for k in undec if sA.iloc[k] is not None and sB.iloc[k] is not None]
    if len(sub) >= 4:
        bA = pd.Series([sA.iloc[k] for k in sub])
        bB = pd.Series([sB.iloc[k] for k in sub])
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
            pos = {k: j for j, k in enumerate(undec)}
            for j, k in enumerate(sub):
                if dec2[j]:
                    out_res[k] = _matrix_predicate(name, mats[j], da, db)
                    solved[pos[k]] = True
    for j, k in enumerate(undec):
        if not solved[j]:
            out_res[k] = fn(from_ewkb(bytes(s1.iloc[k])), from_ewkb(bytes(s2.iloc[k])))
    return pd.Series(out_res, dtype=object)


_PAIRED_KERNEL_NAMES = frozenset({
    "intersects", "disjoint", "within", "contains", "covers", "covered_by",
    "contains_properly", "touches", "crosses", "overlaps",
})


def eval_pairs_predicate(name: str, s1: pd.Series, s2: pd.Series, fn) -> pd.Series:
    """Row-paired boolean pair predicate over aligned null-free EWKB
    Series through the full batched stack: the family's trivalent CSR
    kernel where one exists, the DE-9IM contact buckets for its undecided
    boundary-contact rows (stage-2 ``_relate_fill``), and the per-row
    scalar only as the last resort. Shared by the Column predicate
    dispatch and (r4h) the sjoin broadcast refinement, so STRtree
    candidate verification is batch-speed for every predicate, not just
    intersects. Callers route null rows elsewhere."""
    def parse_any(s):
        pp = RG.parse_polygonal(s)
        return pp if pp is not None else RG.parse_lineal(s)

    if name in ("intersects", "disjoint"):
        # row-paired polygonal/lineal pairs: CSR probe + segment-pair
        # kernel; None = pair product too large for one allocation, the
        # scalar loop amortizes better there
        rpa = parse_any(s1)
        rpb = parse_any(s2) if rpa is not None else None
        if rpa is not None and rpb is not None:
            r = RG.pairs_intersect(rpa, rpb)
            if r is not None:
                return pd.Series(r if name == "intersects" else ~r)
    elif name in ("within", "contains", "covers", "covered_by",
                  "contains_properly"):
        # conservative CSR containment: certain rows vectorized,
        # boundary-contact rows resolve through the relate contact buckets
        swap = name in ("contains", "covers", "contains_properly")
        sA_, sB_ = (s2, s1) if swap else (s1, s2)
        pb2 = RG.parse_polygonal(sB_)
        pa2 = parse_any(sA_) if pb2 is not None else None
        if pa2 is not None and pb2 is not None:
            res, dec = RG.pairs_within(pa2, pb2)
            return _relate_fill(res, dec, fn, s1, s2, name, sA_, sB_)
    elif name == "touches":
        pa3 = parse_any(s1)
        pb3 = parse_any(s2) if pa3 is not None else None
        if pa3 is not None and pb3 is not None:
            res, dec = RG.pairs_touches(pa3, pb3)
            return _relate_fill(res, dec, fn, s1, s2, name, s1, s2)
    elif name in ("crosses", "overlaps"):
        pa4 = parse_any(s1)
        pb4 = parse_any(s2) if pa4 is not None else None
        if pa4 is not None and pb4 is not None:
            kern = RG.pairs_crosses if name == "crosses" else RG.pairs_overlaps
            res, dec = kern(pa4, pb4)
            return _relate_fill(res, dec, fn, s1, s2, name, s1, s2)
    return pd.Series(
        [fn(from_ewkb(bytes(a)), from_ewkb(bytes(b))) for a, b in zip(s1, s2)],
        dtype=object,
    )


def _pair_udf(name: str, fn, ret="boolean"):
    """Two-geometry-column pandas UDF for predicate ``name`` — constructed
    once per predicate at module import (BooleanType instance, no session
    needed) and exposed via ``st_<name>._sql_udf`` so
    register_sql_functions can install the exact same vectorized kernel as
    a Spark SQL function."""
    loc_ok2 = ret == "boolean" and name in _LOC_NAMES
    pair_ok = ret == "boolean" and name in (
        "intersects", "disjoint", "within", "contains", "covers",
        "covered_by", "contains_properly", "touches", "crosses", "overlaps",
    )
    from pyspark.sql.types import BooleanType, StringType

    rt = BooleanType() if ret == "boolean" else StringType()

    def eval_pd(s1: pd.Series, s2: pd.Series, fa=None, fb=None) -> pd.Series:
        """The pandas evaluation stack (unchanged from the pandas-UDF era);
        ``fa``/``fb`` let the arrow wrapper pass already-parsed uniform
        batches so the fast dispatch is not re-derived per lane."""
        if (
            ret == "boolean"
            and (name in _FAST_NAMES or loc_ok2 or pair_ok)
            and not s1.isna().any()
            and not s2.isna().any()
        ):
            if fa is None:
                fa = uniform_batch_pa(s1)
            if fb is None:
                fb = uniform_batch_pa(s2)
            if name in _FAST_NAMES and fa is not None and fb is not None:
                A = _as_boxes(fa)
                B = _as_boxes(fb) if A is not None else None
                if A is not None and B is not None:
                    r = _vec_predicate(name, A, B)
                    if r is not None:
                        return pd.Series(r)
            if loc_ok2:
                # row-paired point vs arbitrary-polygon columns (either side)
                if fa is not None and fa[0] == "point2d":
                    rp = RG.parse_polygonal(s2)
                    if rp is not None:
                        loc = RG.locate_points(rp, fa[1], fa[2])
                        r = _loc_predicate(name, loc, point_is_a=True)
                        if r is not None:
                            return pd.Series(r)
                elif fb is not None and fb[0] == "point2d":
                    rp = RG.parse_polygonal(s1)
                    if rp is not None:
                        loc = RG.locate_points(rp, fb[1], fb[2])
                        r = _loc_predicate(name, loc, point_is_a=False)
                        if r is not None:
                            return pd.Series(r)
            if name in _PAIRED_KERNEL_NAMES:
                # full batched stack: family CSR kernel -> relate
                # contact buckets -> per-row scalar (shared with the
                # sjoin broadcast refinement)
                return eval_pairs_predicate(name, s1, s2, fn)
        return pd.Series(
            [
                None if (a is None or b is None) else fn(from_ewkb(bytes(a)), from_ewkb(bytes(b)))
                for a, b in zip(s1, s2)
            ],
            dtype=object,
        )

    # r11 (guide §4.2): the two-column predicate is an arrow_udf — when BOTH
    # sides parse as uniform point/axis-rect batches the interval algebra
    # runs on zero-copy views of the Arrow buffers (no bytes-object
    # materialization at all: the b2/filter_pairs refinement shape); every
    # other batch converts to pandas once and runs the identical stack.
    @arrow_udf(rt)
    def udf2(a1, a2):
        import pyarrow as pa

        fa = fb = None
        if ret == "boolean" and name in _FAST_NAMES:
            fa = uniform_batch_pa(a1)
            fb = uniform_batch_pa(a2) if fa is not None else None
            if fa is not None and fb is not None:
                A = _as_boxes(fa)
                B = _as_boxes(fb) if A is not None else None
                if A is not None and B is not None:
                    r = _vec_predicate(name, A, B)
                    if r is not None:
                        return pa.array(np.asarray(r, dtype=bool), type=pa.bool_())
        out = eval_pd(a1.to_pandas(), a2.to_pandas(), fa, fb)
        return pa.Array.from_pandas(
            out, type=pa.bool_() if ret == "boolean" else pa.string())

    return udf2


def _mk(name: str, fn, ret="boolean"):
    udf2 = _pair_udf(name, fn, ret)

    def outer(col, other) -> Column:
        o = geom_arg(other)
        if isinstance(o, Geometry):
            loc_ok = ret == "boolean" and name in _LOC_NAMES
            B_const = _const_box(o) if ret == "boolean" and name in _FAST_NAMES else None
            o_is_point = o.type_id == GeometryType.Point and o.coords is not None

            def eval1_pd(s: pd.Series, fast=None) -> pd.Series:
                if (B_const is not None or loc_ok) and not s.isna().any():
                    if fast is None:
                        fast = uniform_batch_pa(s)
                    if B_const is not None and fast is not None:
                        A = _as_boxes(fast)
                        if A is not None:
                            r = _vec_predicate(name, A, B_const)
                            if r is not None:
                                return pd.Series(r)
                    if loc_ok and fast is not None and fast[0] == "point2d":
                        # point column vs constant areal geometry
                        loc = _point_locs_const_poly(o, fast[1], fast[2])
                        if loc is not None:
                            r = _loc_predicate(name, loc, point_is_a=True)
                            if r is not None:
                                return pd.Series(r)
                    if loc_ok and o_is_point and (fast is None or fast[0] != "point2d"):
                        # ragged polygon column vs constant point
                        rp = RG.parse_polygonal(s)
                        if rp is not None:
                            n = len(s)
                            loc = RG.locate_points(
                                rp,
                                np.full(n, float(o.coords[0])),
                                np.full(n, float(o.coords[1])),
                            )
                            r = _loc_predicate(name, loc, point_is_a=False)
                            if r is not None:
                                return pd.Series(r)
                return pd.Series(
                    [None if b is None else fn(from_ewkb(bytes(b)), o) for b in s],
                    dtype=object,
                )

            # r11: arrow lane — zero-copy interval algebra against the
            # constant box (point-in-rect sweeps etc.); the point-vs-const-
            # polygon locate path reads x/y straight off the Arrow buffers
            @arrow_udf(spark_dt(ret))
            def udf1(a1):
                import pyarrow as pa

                fast = None
                if (B_const is not None or loc_ok):
                    fast = uniform_batch_pa(a1)
                    if B_const is not None and fast is not None:
                        A = _as_boxes(fast)
                        if A is not None:
                            r = _vec_predicate(name, A, B_const)
                            if r is not None:
                                return pa.array(
                                    np.asarray(r, dtype=bool), type=pa.bool_())
                    if loc_ok and fast is not None and fast[0] == "point2d":
                        loc = _point_locs_const_poly(o, fast[1], fast[2])
                        if loc is not None:
                            r = _loc_predicate(name, loc, point_is_a=True)
                            if r is not None:
                                return pa.array(
                                    np.asarray(r, dtype=bool), type=pa.bool_())
                out = eval1_pd(a1.to_pandas(), fast)
                return pa.Array.from_pandas(
                    out, type=pa.bool_() if ret == "boolean" else pa.string())

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


def _parse_family(s: pd.Series):
    p = RG.parse_polygonal(s)
    if p is None:
        p = RG.parse_lineal(s)
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


def _relate_matrices(s1: pd.Series, s2: pd.Series, fa=None, fb=None):
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


def _relate_series(s1: pd.Series, s2: pd.Series) -> pd.Series:
    if not s1.isna().any() and not s2.isna().any():
        rm = _relate_matrices(s1, s2)
        if rm is not None:
            return _scalar_fill(rm[0], rm[1], P.relate, s1, s2)
    return pd.Series(
        [
            None if (a is None or b is None)
            else P.relate(from_ewkb(bytes(a)), from_ewkb(bytes(b)))
            for a, b in zip(s1, s2)
        ],
        dtype=object,
    )


_REL_CONST_MAX = 1 << 26  # cap on replicated constant bytes per batch


def st_relate(col, other) -> Column:
    """DE-9IM intersection matrix string (reference: functions.rs:1052-1060).

    Vectorized via the conservative CSR kernels: disjoint, point-location
    and strict-containment rows decide in numpy; genuine boundary
    interplay falls back to the scalar kernel row-by-row."""
    o = geom_arg(other)
    if isinstance(o, Geometry):
        ob = bytes(to_ewkb(o))

        @arrow_series_udf("string")
        def udf1(s: pd.Series) -> pd.Series:
            if len(s) * len(ob) <= _REL_CONST_MAX:
                return _relate_series(s, pd.Series([ob] * len(s)))
            return pd.Series(
                [None if b is None else P.relate(from_ewkb(bytes(b)), o) for b in s],
                dtype=object,
            )

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
    registry). r11: arrow_udf — rect×rect batches (coverage topology,
    the adjacency_relate shape) decide entirely in the closed-form kernel
    on zero-copy Arrow views; anything else converts to pandas once and
    runs the unchanged _relate_series stack."""

    @arrow_udf(spark_dt("string"))
    def udf2(a1, a2):
        import pyarrow as pa_

        if a1.null_count == 0 and a2.null_count == 0:
            fa = uniform_batch_pa(a1)
            fb = uniform_batch_pa(a2) if fa is not None else None
            if (fa is not None and fa[0] == "ring" and fa[2]
                    and fb is not None and fb[0] == "ring" and fb[2]):
                mats, dec = _rect_relate_mats(_as_boxes(fa), _as_boxes(fb))
                if dec.all():
                    return pa_.array(list(mats), type=pa_.string())
        return pa_.Array.from_pandas(
            _relate_series(a1.to_pandas(), a2.to_pandas()), type=pa_.string())

    return udf2


def st_relate_pattern(col, other, pattern: str) -> Column:
    """relate() matched against a DE-9IM pattern (T/F/0/1/2/*), through
    the same vectorized matrix path as :func:`st_relate`."""
    o = geom_arg(other)

    def match(ser: pd.Series) -> pd.Series:
        return pd.Series(
            [None if m is None else P._matches(pattern, m) for m in ser],
            dtype=object,
        )

    if isinstance(o, Geometry):
        ob = bytes(to_ewkb(o))

        @arrow_series_udf("boolean")
        def udf1(s: pd.Series) -> pd.Series:
            if len(s) * len(ob) <= _REL_CONST_MAX:
                return match(_relate_series(s, pd.Series([ob] * len(s))))
            return pd.Series(
                [
                    None if b is None
                    else P.relate_pattern(from_ewkb(bytes(b)), o, pattern)
                    for b in s
                ],
                dtype=object,
            )

        from polars_st_spark.functions import fuse

        c = col_or_lit(col)
        fused1 = fuse.apply_unary(udf1, "boolean", c)
        return fused1 if fused1 is not None else udf1(c)

    from polars_st_spark.functions import fuse

    c = col_or_lit(col)
    udf2 = _relate_pattern_pair_udf(pattern)
    fused = fuse.apply_pair(udf2, "boolean", c, o)
    return fused if fused is not None else udf2(c, o)


def _relate_pattern_pair_udf(pattern: str):
    """Two-geometry-column relate_pattern UDF builder (shared with the SQL
    registry)."""

    @arrow_series_udf("boolean")
    def udf2(s1: pd.Series, s2: pd.Series) -> pd.Series:
        ms = _relate_series(s1, s2)
        return pd.Series(
            [None if m is None else P._matches(pattern, m) for m in ms],
            dtype=object,
        )

    return udf2


def st_dwithin(col, other, distance: float) -> Column:
    """distance(a,b) < d, strict (reference: functions.rs:984-990).
    Vectorized for point-vs-point batches."""
    return _dwithin_impl(col, other, distance)


def _dwithin_impl(col, other, distance: float) -> Column:
    o = geom_arg(other)
    if isinstance(o, Geometry):
        B_const = _const_box(o)

        @arrow_series_udf("boolean")
        def udf1(s: pd.Series) -> pd.Series:
            if B_const is not None and B_const[4] and not s.isna().any():
                A = _as_boxes(uniform_batch_pa(s))
                if A is not None and A[4]:
                    d = np.sqrt((A[0] - B_const[0]) ** 2 + (A[1] - B_const[1]) ** 2)
                    return pd.Series(d < distance)
            return pd.Series(
                [None if b is None else P.dwithin(from_ewkb(bytes(b)), o, distance) for b in s],
                dtype=object,
            )

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

    @arrow_series_udf("boolean")
    def udf2(s1: pd.Series, s2: pd.Series) -> pd.Series:
        if len(s1) and not s1.isna().any() and not s2.isna().any():
            fa = uniform_batch_pa(s1)
            fb = uniform_batch_pa(s2)
            A = _as_boxes(fa)
            B = _as_boxes(fb) if A is not None else None
            if A is not None and B is not None and A[4] and B[4]:
                d = np.sqrt((A[0] - B[0]) ** 2 + (A[1] - B[1]) ** 2)
                return pd.Series(d < distance)
            # point column vs ragged polygon/line column (either order, r4b):
            # the CSR distance sweep + strict-< (NaN empties -> False, like
            # the scalar kernel)
            a_pt = fa is not None and fa[0] == "point2d"
            b_pt = fb is not None and fb[0] == "point2d"
            for pt, other_s in ((fa, s2), (fb, s1)) if (a_pt or b_pt) else ():
                if pt is None or pt[0] != "point2d":
                    continue
                rp = RG.parse_polygonal(other_s)
                if rp is not None:
                    d = RG.distance_to_points(rp, pt[1], pt[2])
                    return pd.Series(d < distance)
                rl = RG.parse_lineal(other_s)
                if rl is not None:
                    d = RG.distance_lines_to_points(rl, pt[1], pt[2])
                    return pd.Series(d < distance)
            if not (a_pt or b_pt):
                # geometry×geometry pairs (r4e): the row-paired distance
                # kernel + strict-< (NaN empties -> False, scalar parity)
                pa = RG.parse_polygonal(s1)
                if pa is None:
                    pa = RG.parse_lineal(s1)
                pb = None
                if pa is not None:
                    pb = RG.parse_polygonal(s2)
                    if pb is None:
                        pb = RG.parse_lineal(s2)
                if pa is not None and pb is not None:
                    d = RG.pairs_distance(pa, pb)
                    if d is not None:
                        with np.errstate(invalid="ignore"):
                            return pd.Series(d < distance)
        return pd.Series(
            [
                None if (a is None or b is None) else P.dwithin(from_ewkb(bytes(a)), from_ewkb(bytes(b)), distance)
                for a, b in zip(s1, s2)
            ],
            dtype=object,
        )

    return udf2


def st_intersects_xy(col, x: float, y: float) -> Column:
    """(reference: functions.rs:1072-1082)"""
    from polars_st_spark.functions.factory import unary_scalar

    return unary_scalar(lambda g: P.intersects_xy(g, x, y), "boolean")(col_or_lit(col))


def st_contains_xy(col, x: float, y: float) -> Column:
    """(reference: functions.rs:1084-1094)"""
    from polars_st_spark.functions.factory import unary_scalar

    return unary_scalar(lambda g: P.contains_xy(g, x, y), "boolean")(col_or_lit(col))