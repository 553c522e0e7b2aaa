"""Spark SQL function registration: ``register_sql_functions(spark)``
installs the engine's ST_* kernels as SQL functions so plain
``spark.sql("SELECT st_buffer(geom, 10.0) FROM t")`` works — the
Spark-idiomatic SQL surface over the same Arrow-batched vectorized UDFs
the Column API uses (NOT row-at-a-time re-implementations: zero-parameter
functions register the exact UDF builders the Column API applies, and
parameterized functions dispatch each Arrow batch to the SAME builder for
the batch's parameter values).

Coverage (r9): the full elementwise inventory — measures, accessors,
counts, unary predicates, the twelve binary predicates, relate/dwithin/
equals_exact, serialization in/out, constructive ops, affine transforms,
parameterized ops (buffer/simplify/segmentize/to_srid/...), pairwise set
ops, and the Arrow grouped aggregates (``st_union_all``/``st_collect``/...)
usable in SQL ``GROUP BY``.

Parameter semantics: SQL parameters arrive as per-row columns (literals
become constant columns). ``_param_dispatch`` groups each batch by its
distinct parameter tuples — the literal case is ONE group running the
exact Column-API Arrow batch function over the batch's arrays as they
are; genuinely per-row parameters run one batch call per distinct value
on sub-arrays cut with ``take``, scattered back into one array. Rows with
a null parameter yield null.

Reference surface: every sugar function (reference:
polars_st/sugar.py:112-625).
"""

from __future__ import annotations

__all__ = [
    "register_sql_functions",
    "SQL_FUNCTIONS",
    "SQL_AGGREGATES",
]


def _param_dispatch(builder, ret_type, nparams, ngeom=1, casts=None):
    """SQL wrapper for a parameterized op: ``builder(*params)`` must return
    the Arrow UDF the Column API would apply for those parameter values.
    The wrapper takes ``ngeom`` data columns + ``nparams`` parameter
    columns and dispatches per distinct parameter tuple (see module
    docstring). Builders are cached per parameter tuple, so repeated
    batches with the same literal reuse one UDF's batch function."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    from polars_st_spark.functions.factory import pa_dt, spark_dt

    cache: dict[tuple, object] = {}

    def fn_for(vals: tuple):
        hit = cache.get(vals)
        if hit is None:
            if len(cache) >= 64:
                cache.clear()
            hit = cache[vals] = builder(*vals).func
        return hit

    def norm(raw: tuple):
        """Cast a raw per-row parameter tuple, or None if any value is null."""
        out = []
        for v, c in zip(raw, casts or (float,) * nparams):
            if v is None or (isinstance(v, float) and v != v):
                return None
            out.append(c(v))
        return tuple(out)

    @arrow_udf(spark_dt(ret_type))
    def udf(*cols):
        data, ps = cols[:ngeom], cols[ngeom:]
        n = len(data[0])
        if n == 0:
            return pa.array([], type=pa_dt(ret_type))
        keys = list(zip(*[p.to_pylist() for p in ps]))
        first = norm(keys[0])
        if first is not None and all(k == keys[0] for k in keys):
            return fn_for(first)(*data)
        groups: dict[tuple, list] = {}
        for i, k in enumerate(keys):
            nk = norm(k)
            if nk is not None:
                groups.setdefault(nk, []).append(i)
        if not groups:
            return pa.nulls(n, type=pa_dt(ret_type))
        rows, parts = [], []
        for nk, idxs in groups.items():
            take = pa.array(idxs, type=pa.int64())
            parts.append(fn_for(nk)(*(d.take(take) for d in data)))
            rows += idxs
        # scatter: output row rows[j] is the j-th result row; rows whose
        # parameters are null take a null index
        src = np.full(n, -1, dtype=np.int64)
        src[rows] = np.arange(len(rows))
        return pa.concat_arrays(parts).take(pa.array(src, mask=src < 0))

    return udf


def _registry():
    """name -> UDF object for every scalar SQL function."""
    from polars_st_spark.functions import construct as C
    from polars_st_spark.functions import predicate as P
    from polars_st_spark.functions import scalar as S
    from polars_st_spark.functions import transform as T
    from polars_st_spark.functions.factory import (
        binary_geom,
        binary_scalar,
        unary_geom,
        unary_scalar,
    )
    from polars_st_spark.geo import algos
    from polars_st_spark.geo import geojson as _gj
    from polars_st_spark.geo import setops
    from polars_st_spark.geo import wkt as _wkt
    from polars_st_spark.geo.cast import cast_geometry
    from polars_st_spark.geo.predicates import (
        contains_xy as _k_contains_xy,
        equals_exact as _k_equals_exact,
        intersects_xy as _k_intersects_xy,
    )
    from polars_st_spark.geo.triangulate import delaunay_triangles, voronoi_polygons
    from polars_st_spark.geo.types import GeometryType
    from polars_st_spark.geo.wkb import from_ewkb, header_info, to_ewkb

    def pair(fn, rt="binary"):
        """Two-geometry-column UDF from a (Geometry, Geometry) kernel.
        other=None keeps the factory from building a driver Column, so this
        builder also works inside executor workers (param dispatch)."""
        if rt == "binary":
            udf, _ = binary_geom(fn, None)
        else:
            udf, _ = binary_scalar(fn, rt, None)
        return udf

    # r11: the header-meta UDFs are the vectorized arrow instances from
    # scalar.py (geo/arrowwkb.header_info_pa — no per-row header decode)
    _has_z_udf = S._has_z_meta_udf
    _has_m_udf = S._has_m_meta_udf
    _coord_dim_udf = S._coordinate_dimension_udf

    F, I, STR = float, int, str

    reg = {
        # -- measures / accessors (scalar.py module UDF instances) --
        "st_area": S._area_udf,
        "st_length": S._length_udf,
        "st_x": S._x_udf,
        "st_y": S._y_udf,
        "st_z": unary_scalar(S._coord_accessor(2, "z"), "double"),
        "st_m": unary_scalar(S._coord_accessor(-1, "m"), "double"),
        "st_srid": S._srid_udf,
        "st_geometry_type": S._geometry_type_udf,
        "st_has_z": _has_z_udf,
        "st_has_m": _has_m_udf,
        "st_coordinate_dimension": _coord_dim_udf,
        "st_dimensions": unary_scalar(lambda g: g.dimensions(), "int"),
        "st_bounds": S._bounds_udf_builder(),
        "st_precision": unary_scalar(lambda g: 0.0, "double"),
        "st_minimum_clearance": unary_scalar(algos.minimum_clearance, "double"),
        "st_distance": S._distance_pair_udf,
        "st_hausdorff_distance": pair(
            lambda a, b: algos.hausdorff_distance(a, b), "double"),
        "st_frechet_distance": pair(
            lambda a, b: algos.frechet_distance(a, b), "double"),
        "st_project": pair(lambda a, b: algos.project(a, b, False), "double"),
        # -- counts / parts --
        "st_count_coordinates": S._count_coordinates_udf(),
        "st_count_points": unary_scalar(
            lambda g: len(g.coords)
            if (g.type_id in (GeometryType.LineString, GeometryType.CircularString)
                and g.coords is not None) else 0, "int"),
        "st_count_interior_rings": unary_scalar(
            lambda g: max(0, len(g.rings) - 1)
            if (g.type_id == GeometryType.Polygon and g.rings) else 0, "int"),
        "st_count_geometries": unary_scalar(
            lambda g: len(g.geoms) if g.geoms is not None
            else (0 if g.is_empty() else 1), "int"),
        "st_coordinates": unary_scalar(S._coordinates_fn, "array<array<double>>"),
        "st_exterior_ring": unary_scalar(S._exterior_ring_fn, "binary"),
        "st_interior_rings": unary_scalar(S._interior_rings_fn, "array<binary>"),
        "st_parts": unary_scalar(S._parts_fn, "array<binary>"),
        "st_get_point": _param_dispatch(
            lambda i: unary_scalar(
                lambda g: S.st_get_point._kernel(g, i), "binary"),
            "binary", 1, casts=(I,)),
        "st_get_interior_ring": _param_dispatch(
            lambda i: unary_scalar(
                lambda g: S.st_get_interior_ring._kernel(g, i), "binary"),
            "binary", 1, casts=(I,)),
        "st_get_geometry": _param_dispatch(
            lambda i: unary_scalar(
                lambda g: S.st_get_geometry._kernel(g, i), "binary"),
            "binary", 1, casts=(I,)),
        # -- unary predicates --
        "st_is_empty": unary_scalar(lambda g: g.is_empty(), "boolean"),
        "st_is_valid": unary_scalar(algos.is_valid, "boolean"),
        "st_is_valid_reason": unary_scalar(algos.is_valid_reason, "string"),
        "st_is_simple": unary_scalar(algos.is_simple, "boolean"),
        "st_is_ring": unary_scalar(algos.is_ring, "boolean"),
        "st_is_closed": unary_scalar(algos.is_closed, "boolean"),
        "st_is_ccw": unary_scalar(algos.is_ccw, "boolean"),
        # -- serialization (API defaults) --
        "st_to_wkt": unary_scalar(
            lambda g: _wkt.to_wkt(g, 6, True, 3, False), "string"),
        "st_to_ewkt": unary_scalar(
            lambda g: _wkt.to_ewkt(g, 6, True, 3, False), "string"),
        "st_to_wkb": unary_scalar(
            lambda g: S._to_wkb_fn(g, 3, 1, False), "binary"),
        "st_to_geojson": unary_scalar(lambda g: _gj.to_geojson(g, None), "string"),
        "st_from_wkt": C._parser_udf(_wkt.from_wkt, 0),
        "st_from_ewkt": C._parser_udf(_wkt.from_ewkt),
        "st_from_wkb": C._parser_udf(lambda b: from_ewkb(bytes(b)), 0),
        "st_from_geojson": C._parser_udf(_gj.from_geojson, 0),
        "st_point": C._point2_udf(0),
        # -- binary predicates + relate family --
        "st_relate": P._relate_pair_udf(),
        "st_relate_pattern": _param_dispatch(
            P._relate_pattern_pair_udf, "boolean", 1, ngeom=2, casts=(STR,)),
        "st_dwithin": _param_dispatch(
            P._dwithin_pair_udf, "boolean", 1, ngeom=2, casts=(F,)),
        "st_equals_exact": _param_dispatch(
            lambda tol: pair(
                lambda a, b: _k_equals_exact(a, b, tol), "boolean"),
            "boolean", 1, ngeom=2, casts=(F,)),
        "st_intersects_xy": _param_dispatch(
            lambda x, y: unary_scalar(
                lambda g: _k_intersects_xy(g, x, y), "boolean"),
            "boolean", 2, casts=(F, F)),
        "st_contains_xy": _param_dispatch(
            lambda x, y: unary_scalar(
                lambda g: _k_contains_xy(g, x, y), "boolean"),
            "boolean", 2, casts=(F, F)),
        # -- constructive, zero-param (the Column API's exact builders) --
        "st_centroid": T._centroid_udf(),
        "st_center": unary_geom(algos.center),
        "st_point_on_surface": unary_geom(algos.point_on_surface),
        "st_convex_hull": T._convex_hull_udf(),
        "st_envelope": T._envelope_udf(),
        "st_boundary": T._boundary_udf(),
        "st_reverse": T._reverse_udf(),
        "st_flip_coordinates": T._flip_udf(),
        "st_force_2d": unary_geom(algos.force_2d),
        "st_make_valid": unary_geom(algos.make_valid),
        "st_normalize": unary_geom(algos.normalize_geom),
        "st_multi": unary_geom(algos.multi),
        "st_extract_unique_points": unary_geom(algos.extract_unique_points),
        "st_minimum_rotated_rectangle": unary_geom(algos.minimum_rotated_rectangle),
        "st_line_merge": unary_geom(lambda g: algos.line_merge(g, False)),
        "st_unary_union": unary_geom(lambda g: setops.unary_union(g, None)),
        "st_coverage_union": unary_geom(T._coverage_union_fn),
        "st_node": unary_geom(T._node_fn),
        "st_build_area": unary_geom(T._build_area_fn),
        "st_polygonize": unary_geom(T._polygonize_fn),
        # -- constructive, parameterized --
        "st_buffer": T._buffer_pair_udf(),  # (geom, per-row distance)
        "st_simplify": _param_dispatch(T._simplify_udf, "binary", 1),
        "st_segmentize": _param_dispatch(T._segmentize_udf, "binary", 1),
        "st_remove_repeated_points": _param_dispatch(
            T._remove_repeated_udf, "binary", 1),
        "st_concave_hull": _param_dispatch(
            lambda r: unary_geom(lambda g: algos.concave_hull(g, r, False)),
            "binary", 1),
        "st_force_3d": _param_dispatch(
            lambda z: unary_geom(lambda g: algos.force_3d(g, z)), "binary", 1),
        "st_offset_curve": _param_dispatch(
            lambda d: unary_geom(
                lambda g: algos.offset_curve(g, d, 8, "round", 5.0)),
            "binary", 1),
        "st_clip_by_rect": _param_dispatch(
            lambda x0, y0, x1, y1: unary_geom(
                lambda g: setops.clip_by_rect(g, x0, y0, x1, y1)),
            "binary", 4),
        "st_interpolate": _param_dispatch(
            lambda d: unary_scalar(
                lambda g: to_ewkb(algos.line_interpolate_point(g, d, False)),
                "binary"),
            "binary", 1),
        "st_delaunay_triangles": _param_dispatch(
            lambda tol: unary_geom(lambda g: delaunay_triangles(g, tol, False)),
            "binary", 1),
        "st_voronoi_polygons": _param_dispatch(
            lambda tol: unary_geom(
                lambda g: voronoi_polygons(g, tol, None, False)),
            "binary", 1),
        "st_cast": _param_dispatch(
            lambda into: unary_geom(lambda g: cast_geometry(g, into)),
            "binary", 1, casts=(STR,)),
        # -- affine --
        "st_translate": _param_dispatch(T._translate_udf, "binary", 2),
        "st_rotate": _param_dispatch(T._rotate_udf, "binary", 1),
        "st_scale": _param_dispatch(T._scale_udf, "binary", 2),
        "st_skew": _param_dispatch(T._skew_udf, "binary", 2),
        "st_set_precision": _param_dispatch(T._set_precision_udf, "binary", 1),
        # -- CRS --
        "st_set_srid": _param_dispatch(T._set_srid_udf, "binary", 1, casts=(I,)),
        "st_to_srid": _param_dispatch(
            _to_srid_builder(T), "binary", 1, casts=(I,)),
        # -- pairwise set ops --
        "st_intersection": T._clip_pair_udf("in", setops.intersection),
        "st_difference": T._clip_pair_udf("out", setops.difference),
        "st_union": T._union_pair_udf("union", setops.union),
        "st_symmetric_difference": T._union_pair_udf(
            "symdiff", setops.symmetric_difference),
        "st_snap": _param_dispatch(
            lambda tol: pair(lambda a, b: algos.snap(a, b, tol)),
            "binary", 1, ngeom=2, casts=(F,)),
        "st_shortest_line": pair(algos.shortest_line),
        "st_shared_paths": pair(algos.shared_paths),
    }
    for name in (
        "intersects", "disjoint", "within", "contains", "contains_properly",
        "covers", "covered_by", "crosses", "touches", "overlaps",
        "equals", "equals_identical",
    ):
        reg[f"st_{name}"] = getattr(P, f"st_{name}")._sql_udf
    return reg


def _to_srid_builder(T):
    """to_srid builder that replays the driver's proj4-registered custom
    CRSs on the worker before building (the Column API snapshots them into
    the UDF closure at plan time — registration time plays that role for
    the SQL surface)."""
    snap = dict(T._CUSTOM_CRS)

    def build(srid: int):
        from polars_st_spark.functions import transform as TT

        if snap and not TT._CUSTOM_CRS:
            TT._CUSTOM_CRS.update(snap)
        return TT._to_srid_udf(srid)

    return build


def _agg_registry():
    """name -> Arrow grouped-aggregate UDF (usable in SQL GROUP BY)."""
    from polars_st_spark.functions import agg as A

    return {
        "st_union_all": A.geom_agg(A.union_array),
        "st_intersection_all": A.geom_agg(A._intersection_all),
        "st_coverage_union_all": A.geom_agg(A._coverage_union_all),
        "st_collect": A.geom_agg(A._collect),
        "st_polygonize_agg": A.geom_agg(A._polygonize_agg),
    }


SQL_AGGREGATES = (
    "st_collect", "st_coverage_union_all", "st_intersection_all",
    "st_polygonize_agg", "st_union_all",
)

# Scalar names, alphabetized; SQL_FUNCTIONS is scalars + aggregates.
_SCALARS = (
    "st_area", "st_boundary", "st_bounds", "st_buffer", "st_build_area",
    "st_cast", "st_center", "st_centroid", "st_clip_by_rect",
    "st_concave_hull", "st_contains", "st_contains_properly",
    "st_contains_xy", "st_convex_hull", "st_coordinate_dimension",
    "st_coordinates", "st_count_coordinates", "st_count_geometries",
    "st_count_interior_rings", "st_count_points", "st_coverage_union",
    "st_covered_by", "st_covers", "st_crosses", "st_delaunay_triangles",
    "st_difference", "st_dimensions", "st_disjoint", "st_distance",
    "st_dwithin", "st_envelope", "st_equals", "st_equals_exact",
    "st_equals_identical", "st_exterior_ring", "st_extract_unique_points",
    "st_flip_coordinates",
    "st_force_2d", "st_force_3d", "st_frechet_distance", "st_from_ewkt",
    "st_from_geojson", "st_from_wkb", "st_from_wkt", "st_geometry_type",
    "st_get_geometry", "st_get_interior_ring", "st_get_point",
    "st_has_m", "st_has_z", "st_hausdorff_distance", "st_interior_rings",
    "st_interpolate", "st_intersection", "st_intersects",
    "st_intersects_xy", "st_is_ccw", "st_is_closed", "st_is_empty",
    "st_is_ring", "st_is_simple", "st_is_valid", "st_is_valid_reason",
    "st_length", "st_line_merge", "st_m", "st_make_valid",
    "st_minimum_clearance", "st_minimum_rotated_rectangle", "st_multi",
    "st_node", "st_normalize", "st_offset_curve", "st_overlaps",
    "st_parts", "st_point", "st_point_on_surface", "st_polygonize",
    "st_precision", "st_project", "st_relate", "st_relate_pattern",
    "st_remove_repeated_points", "st_reverse", "st_rotate", "st_scale",
    "st_segmentize", "st_set_precision", "st_set_srid", "st_shared_paths",
    "st_shortest_line", "st_simplify", "st_skew", "st_snap", "st_srid",
    "st_symmetric_difference", "st_to_ewkt", "st_to_geojson", "st_to_srid",
    "st_to_wkb", "st_to_wkt", "st_touches", "st_translate", "st_unary_union",
    "st_union", "st_voronoi_polygons", "st_within", "st_x", "st_y",
    "st_z",
)

SQL_FUNCTIONS = tuple(sorted(_SCALARS + SQL_AGGREGATES))


def register_sql_functions(spark) -> list[str]:
    """Register the ST_* SQL functions and aggregates on ``spark``; returns
    the installed names. Idempotent (re-registering replaces)."""
    reg = _registry()
    reg.update(_agg_registry())
    for name, udf in reg.items():
        spark.udf.register(name, udf)
    return sorted(reg)
