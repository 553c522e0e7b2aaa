"""r11 optimization kernels: parity tests.

1. ``geo.arrowwkb`` is the one batch reader: ``uniform_batch_pa`` and the
   ragged scanners it feeds must agree with the per-row ``from_ewkb``
   decoder, and give identical results whether a batch arrives as a pyarrow
   array or as the same rows in a list, an object ndarray or a pandas
   Series — the batch lanes dispatch on their output.
2. ``functions.predicate._rect_relate_mats`` (closed-form rect×rect DE-9IM)
   must equal the scalar ``geo.predicates.relate`` for every axis-interval
   configuration (13×13 Allen-relation grid plus containment/equality and
   degenerate shapes).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from polars_st_spark.functions.predicate import _rect_relate_mats
from polars_st_spark.geo import predicates as P
from polars_st_spark.geo.arrowwkb import uniform_batch_pa
from polars_st_spark.geo.types import Geometry, GeometryType
from polars_st_spark.geo.wkb import from_ewkb, to_ewkb


def _pt(x, y, srid=0):
    return to_ewkb(Geometry(GeometryType.Point, srid=srid,
                            coords=np.array([x, y], dtype=np.float64)))


def _rect(x0, y0, x1, y1, srid=0):
    ring = np.array(
        [[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]], dtype=np.float64)
    return to_ewkb(Geometry(GeometryType.Polygon, srid=srid, rings=[ring]))


def _ring(coords, srid=0):
    return to_ewkb(Geometry(GeometryType.Polygon, srid=srid,
                            rings=[np.array(coords, dtype=np.float64)]))


def _line(coords, srid=0):
    return to_ewkb(Geometry(GeometryType.LineString, srid=srid,
                            coords=np.array(coords, dtype=np.float64)))


def _input_forms(bufs):
    """The same rows in every accepted batch input form."""
    return [
        list(bufs),
        np.array(bufs, dtype=object),
        pd.Series([np.nan if b is None else b for b in bufs], dtype=object),
    ]


def _same_uniform(got, ref):
    assert (got is None) == (ref is None)
    if ref is not None:
        assert got[0] == ref[0]
        np.testing.assert_array_equal(np.asarray(got[1]), np.asarray(ref[1]))
        if ref[0] == "point2d":
            np.testing.assert_array_equal(np.asarray(got[2]), np.asarray(ref[2]))
        else:
            assert got[2] == ref[2]


def _assert_same(bufs, expect):
    """uniform_batch_pa over an Arrow array of ``bufs`` returns ``expect``
    ("point2d", "ring" or None), its coordinates equal the per-row
    ``from_ewkb`` decode, ``axis_rect`` equals the per-row st_rectangle
    vertex-order test, and every other input form gives the identical
    result."""
    got = uniform_batch_pa(pa.array(bufs, type=pa.binary()))
    for form in _input_forms(bufs):
        _same_uniform(uniform_batch_pa(form), got)
    if expect is None:
        assert got is None
        return
    assert got is not None and got[0] == expect
    geoms = [from_ewkb(b) for b in bufs]
    if expect == "point2d":
        assert all(g.type_id == GeometryType.Point for g in geoms)
        np.testing.assert_array_equal(np.asarray(got[1]), [g.coords[0] for g in geoms])
        np.testing.assert_array_equal(np.asarray(got[2]), [g.coords[1] for g in geoms])
        return
    assert all(g.type_id == GeometryType.Polygon and len(g.rings) == 1 for g in geoms)
    np.testing.assert_array_equal(np.asarray(got[1]), np.stack([g.rings[0] for g in geoms]))
    rect = got[1].shape[1] == 5 and all(
        r[0, 0] == r[3, 0] == r[4, 0] and r[1, 0] == r[2, 0]
        and r[0, 1] == r[1, 1] == r[4, 1] and r[2, 1] == r[3, 1]
        for r in (g.rings[0] for g in geoms))
    assert got[2] == rect


class TestUniformBatchPa:
    def test_points(self):
        _assert_same([_pt(1.5, -2.0), _pt(0.0, 3.25), _pt(7.0, 7.0)], "point2d")

    def test_points_srid(self):
        _assert_same([_pt(1.0, 2.0, srid=4326), _pt(3.0, 4.0, srid=4326)], "point2d")

    def test_points_mixed_srid_falls_back(self):
        # differing structural prefix → declined
        _assert_same([_pt(1.0, 2.0, srid=4326), _pt(3.0, 4.0, srid=3857)], None)

    def test_rects(self):
        _assert_same([_rect(0, 0, 2, 3), _rect(1, 1, 5, 9), _rect(-4, -4, -1, -2)],
                     "ring")

    def test_rects_srid(self):
        _assert_same([_rect(0, 0, 2, 3, srid=32610), _rect(1, 1, 5, 9, srid=32610)],
                     "ring")

    def test_nonrect_rings(self):
        tri = _ring([[0, 0], [4, 0], [2, 3], [0, 0]])
        tri2 = _ring([[1, 1], [5, 1], [3, 4], [1, 1]])
        _assert_same([tri, tri2], "ring")

    def test_ring_vertex_count_mismatch(self):
        _assert_same([_rect(0, 0, 2, 3), _ring([[0, 0], [4, 0], [2, 3], [0, 0]])],
                     None)

    def test_mixed_types(self):
        _assert_same([_pt(0, 0), _rect(0, 0, 1, 1)], None)

    def test_lines_decline(self):
        _assert_same([_line([[0, 0], [1, 1]]), _line([[2, 2], [3, 3]])], None)

    def test_nulls_decline(self):
        _assert_same([_pt(0, 0), None], None)

    def test_empty_batch(self):
        assert uniform_batch_pa(pa.array([], type=pa.binary())) is None
        for form in ([], np.array([], dtype=object), pd.Series([], dtype=object)):
            assert uniform_batch_pa(form) is None

    def test_z_m_big_endian_iso_decline(self):
        pz = to_ewkb(Geometry(GeometryType.Point, has_z=True,
                              coords=np.array([1.0, 2.0, 3.0])))
        _assert_same([pz, pz], None)
        pm = to_ewkb(Geometry(GeometryType.Point, has_m=True,
                              coords=np.array([1.0, 2.0, 3.0])))
        _assert_same([pm, pm], None)
        be = to_ewkb(from_ewkb(_pt(1.0, 2.0)), byte_order=0)
        _assert_same([be, be], None)
        iso = b"\x01" + (1001).to_bytes(4, "little") + np.array(
            [1.0, 2.0, 3.0]).tobytes()
        _assert_same([iso, iso], None)

    def test_sliced_array(self):
        arr = pa.array([_pt(9, 9), _pt(1, 2), _pt(3, 4)], type=pa.binary())
        got = uniform_batch_pa(arr.slice(1, 2))
        assert got is not None and got[0] == "point2d"
        np.testing.assert_array_equal(np.asarray(got[1]), [1.0, 3.0])
        np.testing.assert_array_equal(np.asarray(got[2]), [2.0, 4.0])

    def test_large_binary(self):
        arr = pa.array([_pt(1, 2), _pt(3, 4)], type=pa.large_binary())
        got = uniform_batch_pa(arr)
        assert got is not None and got[0] == "point2d"
        np.testing.assert_array_equal(np.asarray(got[1]), [1.0, 3.0])
        _same_uniform(uniform_batch_pa(arr.cast(pa.binary())), got)

    def test_returns_read_only_views(self):
        got = uniform_batch_pa([_rect(0, 0, 2, 3), _rect(1, 1, 5, 9)])
        with pytest.raises(ValueError):
            got[1][0, 0, 0] = 9.0


def _row(word, payload=(0.0, 0.0)):
    """One little-endian row: endian byte, raw type word, float64 payload."""
    return b"\x01" + int(word).to_bytes(4, "little") + np.array(
        payload, dtype="<f8").tobytes()


class TestMalformedTypeWords:
    """A type word whose base type is not a known geometry type is invalid
    WKB: the per-row decoder raises (as GEOS's reader does) and every batch
    parser declines — none may read it as a point or a collection."""

    @pytest.mark.parametrize("word", [0x101, 0])
    def test_per_row_decoder_raises(self, word):
        with pytest.raises(ValueError, match="unknown geometry type"):
            from_ewkb(_row(word))

    @pytest.mark.parametrize("word", [0x101, 0])
    def test_batch_parsers_decline(self, word):
        from polars_st_spark.geo import ragged as RG

        batch = [_row(word, (1.0, 2.0)), _row(word, (3.0, 4.0))]
        for form in [pa.array(batch, type=pa.binary())] + _input_forms(batch):
            assert uniform_batch_pa(form) is None
            for parse in (RG.parse_polygonal, RG.parse_lineal,
                          RG.parse_multipoints, RG.split_families):
                assert parse(form) is None, parse.__name__


def _boxes_of(rects):
    a = np.array(rects, dtype=np.float64)
    return (a[:, 0], a[:, 1], a[:, 2], a[:, 3], False)


def _mpoly(parts, srid=0):
    from polars_st_spark.geo.types import Geometry, GeometryType

    geoms = [Geometry(GeometryType.Polygon, srid=srid,
                      rings=[np.array(r, dtype=np.float64) for r in rings])
             for rings in parts]
    return to_ewkb(Geometry(GeometryType.MultiPolygon, srid=srid, geoms=geoms))


_RAGGED_FIELDS = ("n", "coords", "row_start", "ring_start", "ring_row",
                  "ring_part", "ring_hole", "part_row", "chain_start",
                  "chain_row", "null_mask", "srid", "srid_uniform", "spans",
                  "child_srid")


def _same_fields(got, ref):
    assert (got is None) == (ref is None)
    if ref is None:
        return
    if isinstance(ref, dict):  # split_families
        assert got.keys() == ref.keys()
        for k in ref:
            np.testing.assert_array_equal(got[k], ref[k])
        return
    for f in _RAGGED_FIELDS:
        if not hasattr(type(ref), f):
            continue
        a, b = getattr(got, f), getattr(ref, f)
        if isinstance(b, tuple):
            assert len(a) == len(b)
            for x, y in zip(a, b):
                np.testing.assert_array_equal(x, y)
        else:
            np.testing.assert_array_equal(a, b, err_msg=f)


class TestRaggedPaParity:
    """The ragged scanners read Arrow buffers only: an Arrow array and the
    same rows as a list, an object ndarray or a pandas Series with NaN for
    nulls give identical fields, as do sliced and large_binary arrays."""

    def _cmp(self, parse, bufs):
        arr = pa.array(bufs, type=pa.binary())
        ref = parse(arr)
        for form in _input_forms(bufs):
            _same_fields(parse(form), ref)
        _same_fields(parse(arr.cast(pa.large_binary())), ref)
        padded = pa.array([b"\x00" * 7] + list(bufs) + [None], type=pa.binary())
        _same_fields(parse(padded.slice(1, len(bufs))), ref)
        return ref

    def _cmp_all(self, bufs):
        from polars_st_spark.geo import ragged as RG

        return [self._cmp(fn, bufs) for fn in (
            RG.parse_polygonal, RG.parse_lineal, RG.parse_multipoints,
            RG.split_families)]

    def test_polygons_with_holes_and_nulls(self):
        from polars_st_spark.geo import ragged as RG

        sq = _ring([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]])
        holed = _mpoly([[
            [[0, 0], [8, 0], [8, 8], [0, 8], [0, 0]],
            [[2, 2], [3, 2], [3, 3], [2, 3], [2, 2]],
        ], [
            [[10, 10], [12, 10], [12, 12], [10, 12], [10, 10]],
        ]], srid=4326)
        bufs = [sq, holed, None, sq]
        rp, rl, mp, fam = self._cmp_all(bufs)
        assert rl is None and mp is None
        assert rp is not None and not rp.srid_uniform
        np.testing.assert_array_equal(rp.null_mask, [False, False, True, False])
        np.testing.assert_array_equal(fam["poly"], [0, 1, 3])
        _same_fields(rp, RG._parse_polygonal_loop(bufs))

    def test_lines(self):
        from polars_st_spark.geo import ragged as RG

        l1 = _line([[0, 0], [1, 1], [2, 0]], srid=3857)
        l2 = _line([[5, 5], [6, 6]], srid=3857)
        bufs = [l1, None, l2]
        rp, rl, mp, fam = self._cmp_all(bufs)
        assert rp is None and mp is None and rl.srid == 3857 and rl.srid_uniform
        _same_fields(rl, RG._parse_lineal_loop(bufs))
        np.testing.assert_array_equal(fam["line"], [0, 2])

    def test_multipoints(self):
        from polars_st_spark.geo.types import Geometry as G

        def mp(*pts):
            return to_ewkb(G(GeometryType.MultiPoint, geoms=[
                G(GeometryType.Point, coords=np.array(p, dtype=np.float64))
                for p in pts]))

        bufs = [mp((0, 0), (1, 2)), None, mp((5, 5))]
        rp, rl, mpt, fam = self._cmp_all(bufs)
        assert rp is None and rl is None
        np.testing.assert_array_equal(mpt.coords, [[0, 0], [1, 2], [5, 5]])
        np.testing.assert_array_equal(fam["mpoint"], [0, 2])

    def test_mixed_families_and_empty(self):
        bufs = [_pt(1, 2), _line([[0, 0], [1, 1]]), None,
                _ring([[0, 0], [4, 0], [4, 4], [0, 0]])]
        rp, rl, mp, fam = self._cmp_all(bufs)
        assert rp is None and rl is None and mp is None
        for key, rows in (("null", [2]), ("point", [0]), ("line", [1]), ("poly", [3])):
            np.testing.assert_array_equal(fam[key], rows)
        for out in self._cmp_all([None, None]):
            assert out is not None
        for out in self._cmp_all([])[:3]:
            assert out is not None and out.n == 0

    def test_curve_rows_leave_the_family_split(self):
        """A curve row belongs to no ragged family: split_families declines
        the batch, so the mixed-family measures cannot drop the row (its
        length and bounds come from the per-row kernel)."""
        from polars_st_spark.functions import scalar as S
        from polars_st_spark.geo import algos

        arc = to_ewkb(Geometry(GeometryType.CircularString,
                               coords=np.array([[0, 0], [1, 1], [2, 0]], dtype=np.float64)))
        bufs = [_rect(0, 0, 4, 4), _line([[0, 0], [3, 4]]), arc]
        assert self._cmp_all(bufs)[3] is None
        arr = pa.array(bufs, type=pa.binary())
        geoms = [from_ewkb(b) for b in bufs]
        assert S._length_udf.func(arr).to_pylist() == [algos.length(g) for g in geoms]
        assert S._bounds_udf.func(arr).to_pylist() == [list(g.bounds()) for g in geoms]

    def test_decline_mixed(self):
        from polars_st_spark.geo import ragged as RG

        assert RG.parse_polygonal_pa(
            pa.array([_line([[0, 0], [1, 1]])], type=pa.binary())) is None
        pz = to_ewkb(Geometry(GeometryType.LineString, has_z=True,
                              coords=np.array([[0.0, 0, 1], [1, 1, 1]])))
        be = to_ewkb(from_ewkb(_line([[0, 0], [1, 1]])), byte_order=0)
        iso = b"\x01" + (1002).to_bytes(4, "little") + (2).to_bytes(
            4, "little") + np.zeros(6).tobytes()
        for bad in (pz, be, iso):
            assert all(out is None for out in self._cmp_all([bad, bad]))

    def test_area_matches_scalar(self):
        from polars_st_spark.geo import algos, ragged as RG

        holed = _mpoly([[
            [[0, 0], [8, 0], [8, 8], [0, 8], [0, 0]],
            [[2, 2], [3, 2], [3, 3], [2, 3], [2, 2]],
        ]])
        rp = RG.parse_polygonal_pa(pa.array([holed], type=pa.binary()))
        np.testing.assert_allclose(RG.area(rp)[0], algos.area(from_ewkb(holed)))


class TestRectRelate:
    def test_allen_grid_parity(self):
        """Every pairwise interval relation on both axes vs scalar relate."""
        # interval endpoints producing all 13 Allen relations vs A=[2, 5]
        b_intervals = [
            (0.0, 1.0), (0.0, 2.0), (0.0, 3.0), (0.0, 5.0), (0.0, 7.0),
            (2.0, 3.0), (2.0, 5.0), (2.0, 7.0), (3.0, 4.0), (3.0, 5.0),
            (3.0, 7.0), (5.0, 7.0), (6.0, 8.0),
        ]
        A = (2.0, 2.0, 5.0, 5.0)
        pairs = []
        for bx in b_intervals:
            for by in b_intervals:
                pairs.append((A, (bx[0], by[0], bx[1], by[1])))
        ra = [p[0] for p in pairs]
        rb = [p[1] for p in pairs]
        mats, dec = _rect_relate_mats(_boxes_of(ra), _boxes_of(rb))
        assert dec.all()
        from polars_st_spark.geo.wkb import from_ewkb

        for i, (ba, bb) in enumerate(zip(ra, rb)):
            ga = from_ewkb(_rect(*ba))
            gb = from_ewkb(_rect(*bb))
            assert mats[i] == P.relate(ga, gb), (ba, bb, mats[i])

    def test_degenerate_rows_undecided(self):
        mats, dec = _rect_relate_mats(
            _boxes_of([(0, 0, 0, 1), (0, 0, 1, 1)]),
            _boxes_of([(0, 0, 1, 1), (0, 0, 1, 1)]))
        assert not dec[0] and mats[0] is None
        assert dec[1] and mats[1] == "2FFF1FFF2"

    def test_equal_rects(self):
        mats, dec = _rect_relate_mats(
            _boxes_of([(1, 1, 4, 4)]), _boxes_of([(1, 1, 4, 4)]))
        assert dec[0] and mats[0] == "2FFF1FFF2"

    def test_shared_edge(self):
        mats, _ = _rect_relate_mats(
            _boxes_of([(0, 0, 1, 1)]), _boxes_of([(1, 0, 2, 1)]))
        assert mats[0] == "FF2F11212"

    def test_corner_touch(self):
        mats, _ = _rect_relate_mats(
            _boxes_of([(0, 0, 1, 1)]), _boxes_of([(1, 1, 2, 2)]))
        assert mats[0] == "FF2F01212"


class TestFactoryArrowParity:
    """The arrow_udf factory builders (evalType 250) must coerce outputs
    exactly like the pandas_udf boundary did: None rows → null, NaN
    doubles → null, NaN inside list<double> elements preserved the same
    way, nested lists and binaries unchanged. Probe-verified against a
    live pandas_udf for every factory return type."""

    CASES = {
        "double": [None, 1.5, float("nan"), -0.0, 3.0],
        "boolean": [None, True, False, True, None],
        "int": [None, 1, -2, 3, 0],
        "string": [None, "a", "", "txt", "z"],
        "binary": [None, b"\x00\x01", b"", b"abc", b"\xff"],
        "array<double>": [None, [1.0, float("nan")], [], [2.5], [float("nan")]],
        "array<binary>": [None, [b"a", None], [], [b"\x00"], [b"x", b"y"]],
        "array<array<double>>": [None, [[1.0, float("nan")], [2.0]], [], [[3.0]], [[]]],
    }

    def test_boundary_parity_vs_pandas_udf(self, spark):
        from pyspark.sql.functions import arrow_udf, pandas_udf

        from polars_st_spark.functions.factory import pa_out

        df = spark.createDataFrame([(i,) for i in range(5)], "i int").coalesce(1)
        for t, vals in self.CASES.items():
            def make_pu(t=t, vals=vals):
                @pandas_udf(t)
                def pu(s: pd.Series) -> pd.Series:
                    return pd.Series([vals[int(v)] for v in s], dtype=object)
                return pu

            def make_au(t=t, vals=vals):
                @arrow_udf(t)
                def au(a):
                    return pa_out([vals[int(v)] for v in a.to_pylist()], t)
                return au

            r_pd = [r[0] for r in df.select(make_pu()("i")).collect()]
            r_pa = [r[0] for r in df.select(make_au()("i")).collect()]
            assert repr(r_pd) == repr(r_pa), (t, r_pd, r_pa)

    def test_param_null_and_nan_give_null(self, spark):
        """A per-row double parameter holding null or NaN gives a null
        row (``unary_scalar_param``), as a null geometry does."""
        from polars_st_spark.functions.factory import unary_scalar_param

        g = _pt(1.0, 2.0)
        df = spark.createDataFrame(
            [(0, g, 1.5), (1, g, None), (2, g, float("nan")), (3, None, 2.0)],
            "i int, g binary, d double").coalesce(1)
        twice = unary_scalar_param(lambda _g, d: 2.0 * d, "double", "d")
        got = [r[0] for r in df.orderBy("i").select(twice("g")).collect()]
        assert got == [3.0, None, None, None]

    def test_double_lanes_emit_nan_as_null(self, spark):
        """NaN from a batch lane or the per-row kernel is null: x of POINT
        EMPTY in a uniform point batch, distance from an empty point, z of
        a 2-D point."""
        import polars_st_spark as st

        empty = to_ewkb(Geometry(GeometryType.Point, coords=None))
        df = spark.createDataFrame(
            [(0, _pt(3.0, 4.0)), (1, empty)], "i int, g binary").coalesce(1)
        rows = df.orderBy("i").select(
            st.st_x("g"), st.st_distance("g", "POINT (0 0)"), st.st_z("g"),
        ).collect()
        assert [tuple(r) for r in rows] == [(3.0, 5.0, None), (None, None, None)]

    def test_null_geometry_rows_per_module(self, spark):
        """A null row stays null through one converted UDF of each module
        (transform, construct, scalar, predicate, crs), next to live rows
        that keep their per-row kernel values."""
        import polars_st_spark as st
        from polars_st_spark.geo import algos
        from polars_st_spark.geo.wkt import from_wkt

        a = _rect(0.0, 0.0, 2.0, 2.0)
        b = _rect(1.0, 1.0, 3.0, 3.0)
        df = spark.createDataFrame(
            [(0, a, b, "POINT (1 2)", 4326, 0.5),
             (1, None, b, None, None, None),
             (2, a, None, "LINESTRING (0 0, 1 1)", 3857, float("nan"))],
            "i int, a binary, b binary, wkt string, code int, d double",
        ).coalesce(1)
        rows = df.orderBy("i").select(
            st.st_convex_hull("a"),
            st.st_buffer("a", "d", quad_segs=2),
            st.st_from_wkt("wkt"),
            st.st_count_coordinates("a"),
            st.st_intersects("a", "b"),
            st.st_relate("a", "b"),
            st.st_crs_authority(st.st_crs_from_code("code")),
        ).collect()
        buf = algos.buffer(from_ewkb(a), 0.5, 2, "round", "round", 5.0, False)
        assert tuple(rows[0]) == (
            to_ewkb(algos.convex_hull(from_ewkb(a))), to_ewkb(buf),
            to_ewkb(from_wkt("POINT (1 2)")), 5, True,
            P.relate(from_ewkb(a), from_ewkb(b)), "EPSG:4326")
        assert tuple(rows[1]) == (None,) * 7
        assert tuple(rows[2]) == (
            to_ewkb(algos.convex_hull(from_ewkb(a))), None,
            to_ewkb(from_wkt("LINESTRING (0 0, 1 1)")), 5, None, None,
            "EPSG:3857")

    def test_pa_dt_rejects_unknown(self):
        from polars_st_spark.functions.factory import pa_dt

        with pytest.raises(TypeError):
            pa_dt("map<string,int>")


class TestHeaderInfoPa:
    """header_info_pa must equal the scalar header_info decoder over every
    type code × flag combination × endianness, with null and sliced
    batches."""

    def _check(self, bufs):
        from polars_st_spark.geo.arrowwkb import header_info_pa
        from polars_st_spark.geo.wkb import header_info

        arr = pa.array(bufs, type=pa.binary())
        base, z, m, srid, nulls = header_info_pa(arr)
        for i, b in enumerate(bufs):
            if b is None:
                assert nulls[i]
                continue
            rb, rz, rm, rs = header_info(b)
            assert (int(base[i]), bool(z[i]), bool(m[i]), int(srid[i])) == \
                (rb, rz, rm, rs), (i, b.hex())

    def test_flags_iso_endian_grid(self):
        import struct

        bufs = []
        for code in (1, 2, 3, 4, 5, 6, 7, 8, 17):
            for zf, mf in ((0, 0), (1, 0), (0, 1), (1, 1)):
                for srid in (0, 4326):
                    word = code | (0x80000000 if zf else 0) | \
                        (0x40000000 if mf else 0) | (0x20000000 if srid else 0)
                    for fmt, bo in (("<", b"\x01"), (">", b"\x00")):
                        hdr = bo + struct.pack(fmt + "I", word)
                        if srid:
                            hdr += struct.pack(fmt + "I", srid)
                        bufs.append(hdr + b"\x00" * 16)
            # ISO code form (1000/2000/3000 offsets), little-endian
            for iso in (1000, 2000, 3000):
                bufs.append(b"\x01" + struct.pack("<I", code + iso) + b"\x00" * 16)
        self._check(bufs)

    def test_nulls_and_slice(self):
        bufs = [_pt(1, 2, srid=31370), None, _rect(0, 0, 1, 1), None,
                _pt(5, 6)]
        self._check(bufs)
        from polars_st_spark.geo.arrowwkb import header_info_pa

        arr = pa.array(bufs, type=pa.binary()).slice(1, 3)
        base, z, m, srid, nulls = header_info_pa(arr)
        assert nulls.tolist() == [True, False, True]
        assert int(base[1]) == 3  # polygon

    def test_too_short_raises(self):
        from polars_st_spark.geo.arrowwkb import header_info_pa

        with pytest.raises(ValueError):
            header_info_pa(pa.array([b"\x01\x02"], type=pa.binary()))

    def test_meta_udfs_against_pandas(self, spark):
        import polars_st_spark as st

        rows = [(_pt(1, 2, srid=4326),), (None,), (_rect(0, 0, 2, 2),),
                (_pt(3, 4),)]
        df = spark.createDataFrame(rows, "g binary")
        got = df.select(
            st.st_geometry_type("g").alias("t"), st.st_srid("g").alias("s"),
            st.st_has_z("g").alias("z"), st.st_has_m("g").alias("m"),
            st.st_coordinate_dimension("g").alias("d")).collect()
        assert [r.t for r in got] == ["Point", None, "Polygon", "Point"]
        assert [r.s for r in got] == [4326, None, 0, 0]
        assert [r.z for r in got] == [False, None, False, False]
        assert [r.m for r in got] == [False, None, False, False]
        assert [r.d for r in got] == [2, None, 2, 2]
