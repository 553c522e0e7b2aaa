"""Batched replacements of per-pair geometry loops are byte-identical to
the code they replace:

- ``predicates.interiors_intersect`` == ``intersects and not touches``
  (the overlay-cluster test of ``setops.union_all``), a polygon tiled
  by overlapping kites takes no ``relate`` call, and the cluster search
  tests each (member, part) pair with ``touches`` at most once
- ``agg._intersection_all``'s rectangle lane == the pairwise fold
- ``scalar.distance_lanes`` == per-row ``algos.distance`` (point pairs use
  ``math.hypot``, not ``np.hypot``)
"""

import math

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st_h

from polars_st_spark.functions import agg
from polars_st_spark.functions.scalar import _distance_pair_udf, distance_lanes
from polars_st_spark.geo import algos, predicates, setops
from polars_st_spark.geo.predicates import interiors_intersect, intersects, touches
from polars_st_spark.geo.types import Geometry, GeometryType
from polars_st_spark.geo.wkb import from_ewkb, to_ewkb


def poly(*rings, srid=0):
    return Geometry(GeometryType.Polygon, srid=srid,
                    rings=[np.asarray(list(r) + [r[0]], dtype=float) for r in rings])


def rect(x0, y0, x1, y1, srid=0):
    return poly([(x0, y0), (x1, y0), (x1, y1), (x0, y1)], srid=srid)


def ngon(cx, cy, r, n, phase=0.0):
    t = phase + 2 * math.pi * np.arange(n) / n
    return [(cx + r * math.cos(a), cy + r * math.sin(a)) for a in t]


def kites(cx, cy, r, n, phase=0.0):
    """The n overlapping quadrilaterals (centre, v_i, v_i+1, v_i+2) that
    tile a regular n-gon."""
    v = ngon(cx, cy, r, n, phase)
    return [poly([(cx, cy), v[i], v[(i + 1) % n], v[(i + 2) % n]]) for i in range(n)]


def exact(a, b):
    return intersects(a, b) and not touches(a, b)


# ---------------------------------------------------------------------------
# interiors_intersect
# ---------------------------------------------------------------------------

FIXED_PAIRS = [
    (rect(0, 0, 2, 2), rect(2, 0, 4, 2)),                 # shared edge
    (rect(0, 0, 2, 2), rect(2, 2, 4, 4)),                 # corner touch
    (rect(0, 0, 2, 2), rect(1, 0, 3, 2)),                 # collinear overlap
    (rect(0, 0, 2, 2), rect(0.5, 0.5, 1.5, 1.5)),         # containment
    (rect(0, 0, 2, 2), rect(0, 0, 2, 2)),                 # equal
    (rect(0, 0, 4, 4), rect(1, -1, 3, 5)),                # cross, no vertex inside
    (poly([(0, 0), (4, 0), (4, 4), (0, 4)], [(1, 1), (3, 1), (3, 3), (1, 3)]),
     rect(1.5, 1.5, 2.5, 2.5)),                           # inside the hole
    (poly([(0, 0), (4, 0), (4, 4), (0, 4)], [(1, 1), (3, 1), (3, 3), (1, 3)]),
     rect(1, 1, 3, 3)),                                   # fills the hole
    (poly([(0, 0), (4, 0), (4, 4), (0, 4)], [(1, 1), (3, 1), (3, 3), (1, 3)]),
     rect(0.5, 0.5, 2, 2)),                               # straddles the hole edge
    (poly([(0, 0), (2, 0), (1, 2)]), poly([(2, 0), (4, 0), (3, 2)])),  # vertex touch
    (poly([(0, 0), (2, 0), (1, 2)]), poly([(1, 2), (2, 0), (3, 2)])),  # edge touch
    (rect(0, 0, 2, 2), rect(3, 3, 4, 4)),                 # disjoint
] + [(k[i], k[j]) for k in (kites(0, 0, 5, 7), kites(3, 1, 2, 5, 0.3))
     for i in range(len(k)) for j in range(len(k)) if i != j]


@pytest.mark.parametrize("a,b", FIXED_PAIRS)
def test_interiors_intersect_fixed_pairs(a, b):
    assert interiors_intersect(a, b) == exact(a, b)


def test_witness_implies_relate_interior_overlap():
    for a, b in FIXED_PAIRS:
        if predicates._interiors_witness(a, b):
            assert predicates.relate(a, b)[0] == "2"


coord = st_h.floats(min_value=-5, max_value=5, allow_nan=False).map(lambda v: round(v, 1))


@settings(max_examples=150, deadline=None)
@given(st_h.lists(st_h.tuples(coord, coord), min_size=3, max_size=6),
       st_h.lists(st_h.tuples(coord, coord), min_size=3, max_size=6))
def test_interiors_intersect_random_polygons(ra, rb):
    # coarse grid coordinates: shared edges, collinear runs and corner
    # touches come up often; self-intersecting rings are kept too
    a, b = poly(ra), poly(rb)
    assert interiors_intersect(a, b) == exact(a, b)


@settings(max_examples=60, deadline=None)
@given(dx=st_h.floats(min_value=-1e-6, max_value=1e-6, allow_nan=False),
       dy=st_h.floats(min_value=-1e-6, max_value=1e-6, allow_nan=False),
       eps=st_h.floats(min_value=1e-9, max_value=1e-5, allow_nan=False))
def test_interiors_intersect_adversarial(dx, dy, eps):
    # the test_overlay_adversarial shapes: jittered shared edge, sliver
    # overlap, near-collinear vertex
    pairs = [
        (rect(0, 0, 10, 10), rect(10 + dx, dy, 20 + dx, 10 + dy)),
        (rect(0, 0, 10, 10), rect(10 - eps, 0, 20, 10)),
        (rect(0, 0, 10, 10), poly([(0, 10 + dy), (5, 12), (10, 10 + dy)])),
    ]
    for a, b in pairs:
        assert interiors_intersect(a, b) == exact(a, b)


def _union_all_exact(geoms):
    """setops.union_all with interiors_intersect replaced by its defining
    expression (and no witness path anywhere)."""
    import polars_st_spark.geo.setops as S

    saved = (S.interiors_intersect, predicates._interiors_witness)
    S.interiors_intersect = exact
    predicates._interiors_witness = lambda a, b: False
    try:
        return to_ewkb(S.union_all(geoms))
    finally:
        S.interiors_intersect, predicates._interiors_witness = saved


UNION_GROUPS = [
    kites(10, 10, 4, 8, 0.2),
    kites(0, 0, 3, 5),
    kites(0, 0, 3, 12, 1.0) + [rect(5, 5, 6, 6)],
    [rect(0, 0, 2, 2), rect(1, 1, 3, 3), poly([(2, 0), (4, 0), (3, 2)])],
    [poly([(0, 0), (2, 0), (1, 2)]), poly([(1, 2), (2, 0), (3, 2)]),
     poly([(0.5, 0.5), (1.5, 0.5), (1, 3)])],
    [poly([(0, 0), (4, 0), (4, 4), (0, 4)], [(1, 1), (3, 1), (3, 3), (1, 3)]),
     poly([(1.5, 1.5), (2.5, 1.5), (2, 3.5)])],
]


@pytest.mark.parametrize("group", UNION_GROUPS)
def test_union_all_bytes_unchanged(group):
    assert to_ewkb(setops.union_all(group)) == _union_all_exact(group)


@settings(max_examples=25, deadline=None)
@given(st_h.lists(st_h.lists(st_h.tuples(coord, coord), min_size=3, max_size=5),
                  min_size=2, max_size=5))
def test_union_all_bytes_unchanged_random(rings):
    group = [poly(r) for r in rings]
    try:
        want = _union_all_exact(group)
    except (NotImplementedError, ValueError, ZeroDivisionError):
        return  # inputs the overlay does not take either way
    assert to_ewkb(setops.union_all(group)) == want


def test_kite_group_takes_no_relate_call(monkeypatch):
    calls = []
    real = predicates.relate
    monkeypatch.setattr(predicates, "relate", lambda a, b: calls.append(1) or real(a, b))
    group = kites(10, 10, 4, 9, 0.7)
    out = setops.union_all(group)
    assert not calls
    assert abs(algos.area(out) - algos.area(poly(ngon(10, 10, 4, 9, 0.7)))) < 1e-9
    monkeypatch.setattr(predicates, "relate", real)
    assert to_ewkb(out) == _union_all_exact(group)


def test_cluster_tests_each_pair_once(monkeypatch):
    """Big overlapping polygons (past relate's size gate, so no witness)
    join the cluster one exact test at a time; the small triangles that
    touch the first one are tested with ``touches`` once each, not once
    per member the cluster gains."""
    big = [ngon(0.3 * b, 0.0, 10.0, 300) for b in range(5)]
    tris = []
    for t in (140, 145, 148, 150, 152, 155, 160):
        x, y = big[0][t]
        ux, uy = x / 10.0, y / 10.0
        tris.append(poly([(x, y), (x + 2 * ux - 0.3 * uy, y + 2 * uy + 0.3 * ux),
                          (x + 2 * ux + 0.3 * uy, y + 2 * uy - 0.3 * ux)]))
    group = [poly(big[0])] + tris + [poly(b) for b in big[1:]]
    pairs, calls = [], []
    real_touches, real_relate = setops.touches, predicates.relate
    monkeypatch.setattr(setops, "touches",
                        lambda a, b: pairs.append((id(a), id(b))) or real_touches(a, b))
    monkeypatch.setattr(predicates, "relate",
                        lambda a, b: calls.append(1) or real_relate(a, b))
    out = setops.union_all(group)
    assert pairs and len(set(pairs)) == len(pairs)
    # 30 relate calls for this group with a breadth-first search that
    # tests each pair with intersects-and-not-touches once
    assert len(calls) <= 30
    monkeypatch.setattr(setops, "touches", real_touches)
    monkeypatch.setattr(predicates, "relate", real_relate)
    assert to_ewkb(out) == _union_all_exact(group)


# ---------------------------------------------------------------------------
# intersection_all rectangle lane
# ---------------------------------------------------------------------------

def _fold(values):
    return to_ewkb(setops.intersection_all([None if v is None else from_ewkb(v)
                                            for v in values]))


def _arr(geoms):
    return pa.array([None if g is None else to_ewkb(g) for g in geoms], pa.binary())


INTERSECTION_GROUPS = {
    "nested": [rect(0, 0, 4, 4), rect(1, -1, 5, 3), rect(0.5, 0.5, 3, 6)],
    "touching": [rect(0, 0, 2, 2), rect(2, 0, 4, 2)],
    "zero_area": [rect(0, 0, 2, 2), rect(1, 0, 1, 2)],
    "disjoint": [rect(0, 0, 1, 1), rect(2, 2, 3, 3)],
    "nulls": [None, rect(0, 0, 4, 4), None, rect(1, 1, 5, 5)],
    "one_row": [rect(0, 0, 4, 4)],
    "one_row_and_nulls": [None, rect(0, 0, 4, 4)],
    "srid": [rect(0, 0, 4, 4, srid=4326), rect(1, 1, 5, 5, srid=4326)],
    "mixed_srid": [rect(0, 0, 4, 4, srid=4326), rect(1, 1, 5, 5)],
    "reversed_ring": [poly([(0, 0), (0, 4), (4, 4), (4, 0)]), rect(1, 1, 5, 5)],
    "not_rect": [rect(0, 0, 4, 4), poly([(1, 1), (5, 1), (3, 5)])],
    "decimals": [rect(0.1 + 0.2, 0.3, 7.000000000000001, 4.2),
                 rect(0.30000000000000004, 1e-13, 6.9999999999999, 4.1999999999999)],
    "all_null": [None, None],
}


@pytest.mark.parametrize("name", sorted(INTERSECTION_GROUPS))
def test_intersection_all_rect_lane_matches_fold(name):
    a = _arr(INTERSECTION_GROUPS[name])
    assert agg._intersection_all(a) == _fold(a.to_pylist())


def test_intersection_all_rect_lane_random():
    rng = np.random.default_rng(11)
    for _ in range(200):
        n = int(rng.integers(2, 12))
        core = rng.uniform(-100, 100, 2)
        s = rng.uniform(0.001, 5, (4, n))
        g = [rect(core[0] - s[0, i], core[1] - s[1, i], core[0] + s[2, i], core[1] + s[3, i])
             for i in range(n)]
        a = _arr(g)
        assert agg._common_rect(a) is not None
        assert agg._intersection_all(a) == _fold(a.to_pylist())


# ---------------------------------------------------------------------------
# distance lanes
# ---------------------------------------------------------------------------

def _pt(x, y, srid=0):
    return to_ewkb(Geometry(GeometryType.Point, srid=srid, coords=np.array([x, y])))


def _per_row(a1, a2):
    return np.array([np.nan if x is None or y is None else
                     algos.distance(from_ewkb(x), from_ewkb(y))
                     for x, y in zip(a1.to_pylist(), a2.to_pylist())])


def _same_bits(got, want):
    return bool((np.asarray(got).view(np.uint64) == np.asarray(want).view(np.uint64)).all())


def test_point_pair_distance_bytes_equal_math_hypot():
    rng = np.random.default_rng(5)
    xy = rng.uniform(-1000, 1000, (2000, 4))
    a1 = pa.array([_pt(x, y) for x, y, _, _ in xy], pa.binary())
    a2 = pa.array([_pt(x, y) for _, _, x, y in xy], pa.binary())
    got = distance_lanes(a1, a2)
    assert got is not None
    want = np.array([math.hypot(x1 - x2, y1 - y2) for x1, y1, x2, y2 in xy])
    assert _same_bits(got, want)
    # np.hypot differs from math.hypot in the last bit on some of these
    assert (np.hypot(xy[:, 0] - xy[:, 2], xy[:, 1] - xy[:, 3]) != want).any()
    assert _same_bits(got, _per_row(a1, a2))


def test_point_pair_distance_near_coincident():
    # the scalar's intersects shortcut needs overlapping bboxes, i.e.
    # equal points: near-coincident ones keep their hypot
    a1 = pa.array([_pt(0.0, 0.0), _pt(1.0, 1.0), _pt(2.0, 2.0)], pa.binary())
    a2 = pa.array([_pt(1e-13, 0.0), _pt(1.0, 1.0 + 1e-13), _pt(2.0, 2.0)], pa.binary())
    got = distance_lanes(a1, a2)
    assert got is not None and _same_bits(got, _per_row(a1, a2))
    assert got[0] > 0 and got[2] == 0.0


def _line(*pts):
    return to_ewkb(Geometry(GeometryType.LineString, coords=np.asarray(pts, dtype=float)))


def _family_rows(rng, n):
    """n random rows of each family: points, polygons, lines."""
    out = {"point": [], "poly": [], "line": []}
    for _ in range(n):
        x, y = rng.uniform(-50, 50, 2)
        out["point"].append(_pt(x, y))
        out["poly"].append(to_ewkb(poly(ngon(x, y, rng.uniform(1, 4), 6))))
        out["line"].append(_line((x, y), (x + 1, y + 4), (x - 2, y)))
    return out


def test_family_lanes_match_per_row():
    rng = np.random.default_rng(9)
    fa, fb = _family_rows(rng, 200), _family_rows(rng, 200)
    for ka in fa:
        for kb in fb:
            a1, a2 = pa.array(fa[ka], pa.binary()), pa.array(fb[kb], pa.binary())
            got = distance_lanes(a1, a2)
            assert got is not None, (ka, kb)
            assert _same_bits(got, _per_row(a1, a2)), (ka, kb)


def test_mixed_family_batch_matches_per_row():
    # a batch no lane takes whole (mixed families, a null, an empty point,
    # a one-point line, an SRID) is scored per row
    rng = np.random.default_rng(9)
    left, right = [], []
    for i in range(300):
        x, y = rng.uniform(-50, 50, 2)
        left.append([_pt(x, y), to_ewkb(rect(x, y, x + 2, y + 1)), None,
                     _line((x, y), (x + 3, y - 1)), _pt(x, y, srid=3857)][i % 5])
        u, v = rng.uniform(-50, 50, 2)
        right.append([_pt(u, v), to_ewkb(poly(ngon(u, v, 3, 6))),
                      _line((u, v), (u + 1, v + 4), (u - 2, v)),
                      to_ewkb(Geometry(GeometryType.Point, coords=None)),
                      _line((u, v))][i % 5 if i % 7 else (i // 7) % 5])
    a1, a2 = pa.array(left, pa.binary()), pa.array(right, pa.binary())
    assert distance_lanes(a1.drop_null(), a2.filter(a1.is_valid())) is None
    got = _distance_pair_udf.func(a1, a2).to_numpy(zero_copy_only=False)
    got = np.array([np.nan if v is None else v for v in got], dtype=float)
    assert _same_bits(got, _per_row(a1, a2))


def test_point_on_line_is_zero():
    a1 = pa.array([_pt(0.5, 0.5), _pt(1.0, 1.0)], pa.binary())
    a2 = pa.array([_line((0, 0), (1, 1)), _line((0, 0), (1, 1), (1, 3))], pa.binary())
    got = distance_lanes(a1, a2)
    assert got is not None and _same_bits(got, _per_row(a1, a2))
    assert (got == 0.0).all()


def test_st_distance_constant_point_matches_per_row(spark):
    # the constant-point lane of st_distance: math.hypot, not sqrt of
    # squares (which differs in the last bit on about a sixth of pairs)
    import polars_st_spark as st

    rng = np.random.default_rng(2)
    xy = rng.uniform(-1000, 1000, (400, 2))
    df = spark.createDataFrame([(i, bytearray(_pt(x, y))) for i, (x, y) in enumerate(xy)],
                               "i long, g binary")
    got = {r["i"]: r["d"] for r in df.select(
        "i", st.st_distance("g", "POINT (12.345 -678.9)").alias("d")).collect()}
    want = [math.hypot(x - 12.345, y + 678.9) for x, y in xy]
    assert _same_bits([got[i] for i in range(len(xy))], want)
