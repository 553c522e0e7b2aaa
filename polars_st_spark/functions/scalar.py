"""Elementwise scalar functions: metadata, measures, serialization.

Reference sections: §2.3 property extractors (geoexpr.py:77-330), measures
(functions.rs:794-883), serializers (functions.rs:703-777).

Header-only ops (geometry_type/srid/has_z/has_m/coordinate_dimension) parse
just the EWKB header bytes, never building geometry objects — the same O(1)
fast path the reference uses (reference: functions.rs:410-435, wkb.rs:17-44).
``st_x``/``st_y`` take a fully vectorized path when the batch is uniform 2-D
points (the dominant case for point tables at scale).

NaN convention: the reference returns NaN sentinels for some cases (x/y of a
non-Point, distance to an empty geometry — functions.rs:448-452, 823-825).
pandas/Arrow treat NaN as the missing marker, so those sentinels surface as
SQL NULL here. This engine documents **NaN → NULL** as its convention for all
double-returning functions; input nulls also yield NULL (null passthrough),
matching Spark-native semantics.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import DoubleType, IntegerType, StringType

from polars_st_spark.geo.arrowwkb import uniform_batch_pa

from polars_st_spark.functions.factory import (
    active_udf,
    arrow_series_udf,
    binary_scalar,
    col_or_lit,
    geom_arg,
    spark_dt,
    unary_scalar,
)
from polars_st_spark.geo import algos
from polars_st_spark.geo import geojson as _gj
from polars_st_spark.geo import ragged
from polars_st_spark.geo import wkt as _wkt
from polars_st_spark.geo.types import GEOMETRY_TYPE_NAMES, Geometry, GeometryType
from polars_st_spark.geo.wkb import from_ewkb, header_info, to_ewkb

__all__ = [
    "st_geometry_type", "st_srid", "st_has_z", "st_has_m",
    "st_coordinate_dimension", "st_dimensions",
    "st_x", "st_y", "st_z", "st_m",
    "st_area", "st_length", "st_distance", "st_hausdorff_distance",
    "st_frechet_distance", "st_minimum_clearance", "st_project",
    "st_bounds", "st_count_coordinates", "st_count_points",
    "st_count_interior_rings", "st_count_geometries", "st_coordinates",
    "st_exterior_ring", "st_interior_rings", "st_parts",
    "st_get_point", "st_get_interior_ring", "st_get_geometry",
    "st_is_empty", "st_is_valid", "st_is_valid_reason", "st_is_simple",
    "st_is_ring", "st_is_closed", "st_is_ccw",
    "st_to_wkt", "st_to_ewkt", "st_to_wkb", "st_to_geojson",
]


# ----------------------------------------------------------------------
# Header-only metadata (no geometry object construction)
# ----------------------------------------------------------------------

# r11: header-only metadata is FULLY vectorized from the Arrow buffers
# (geo/arrowwkb.header_info_pa decodes endian byte + type word + SRID for
# the whole batch in numpy — no per-row bytes objects, no Python loop) and
# rides evalType 250 so it fuses with the other arrow_udf kernels.
# Parity with the scalar ``header_info`` decoder is asserted in
# tests/test_r11_kernels.py::TestHeaderInfoPa.

def _header_pa(a):
    from polars_st_spark.geo.arrowwkb import header_info_pa

    return header_info_pa(a)


@arrow_udf(StringType())
def _geometry_type_udf(a):
    import pyarrow as pa

    base, _, _, _, nulls = _header_pa(a)
    out = np.empty(len(base), dtype=object)
    for code in np.unique(base[~nulls]) if nulls.any() else np.unique(base):
        out[base == code] = GEOMETRY_TYPE_NAMES.get(int(code), "Unknown")
    return pa.array(out, type=pa.string(), mask=nulls if nulls.any() else None)


def st_geometry_type(col) -> Column:
    """Type name string (reference Enum, geometry.py:30; header-only parse)."""
    return active_udf(_geometry_type_udf)(col_or_lit(col))


@arrow_udf(IntegerType())
def _srid_udf(a):
    import pyarrow as pa

    _, _, _, srid, nulls = _header_pa(a)
    return pa.array(srid, type=pa.int32(), mask=nulls if nulls.any() else None)


def st_srid(col) -> Column:
    """(reference: functions.rs:433-435; header-only)"""
    return active_udf(_srid_udf)(col_or_lit(col))


@arrow_udf(spark_dt("boolean"))
def _has_z_meta_udf(a):
    import pyarrow as pa

    _, z, _, _, nulls = _header_pa(a)
    return pa.array(z, type=pa.bool_(), mask=nulls if nulls.any() else None)


@arrow_udf(spark_dt("boolean"))
def _has_m_meta_udf(a):
    import pyarrow as pa

    _, _, m, _, nulls = _header_pa(a)
    return pa.array(m, type=pa.bool_(), mask=nulls if nulls.any() else None)


def st_has_z(col) -> Column:
    return active_udf(_has_z_meta_udf)(col_or_lit(col))


def st_has_m(col) -> Column:
    return active_udf(_has_m_meta_udf)(col_or_lit(col))


@arrow_udf(spark_dt("int"))
def _coordinate_dimension_udf(a):
    import pyarrow as pa

    _, z, m, _, nulls = _header_pa(a)
    dims = 2 + z.astype(np.int32) + m.astype(np.int32)
    return pa.array(dims, type=pa.int32(), mask=nulls if nulls.any() else None)


def st_coordinate_dimension(col) -> Column:
    """2/3/4 from header flags (reference: functions.rs:427-431)."""
    return active_udf(_coordinate_dimension_udf)(col_or_lit(col))


def st_dimensions(col) -> Column:
    """Topological dimension; -1 for empty collection (reference: functions.rs:416-425)."""
    return unary_scalar(lambda g: g.dimensions(), "int")(col_or_lit(col))


# ----------------------------------------------------------------------
# Coordinate accessors — NaN for non-Point/empty (reference: functions.rs:445-487)
# ----------------------------------------------------------------------

def _coord_accessor(idx: int, needs_flag: str | None = None):
    def fn(g: Geometry):
        if g.type_id != GeometryType.Point or g.coords is None:
            return float("nan")
        if needs_flag == "z" and not g.has_z:
            return float("nan")
        if needs_flag == "m":
            if not g.has_m:
                return float("nan")
            return float(g.coords[2 + int(g.has_z)])
        if idx < len(g.coords):
            return float(g.coords[idx])
        return float("nan")

    return fn


# module-level UDF instances (constructed once, reused by every expression;
# also the registrable objects behind register_sql_functions — sqlreg.py).
# The hot scalar UDFs are Spark 4.1 ``arrow_udf``s that read the Arrow
# batch directly: the uniform parser (geo/arrowwkb.uniform_batch_pa), then
# the ragged CSR scanners (geo/ragged.py), then the family split for mixed
# batches — all over the Arrow buffers. Only rows no batch lane takes are
# materialized as bytes, for the per-row kernel (NaN→NULL preserved).


def _double_out(vals: np.ndarray, mask=None):
    """numpy float64 → pa.float64 array with the engine's NaN→NULL rule."""
    import pyarrow as pa

    nanm = np.isnan(vals)
    if mask is not None:
        nanm = nanm | mask
    return pa.array(vals, type=pa.float64(), mask=nanm if nanm.any() else None)


def _per_row_double(fn, *arrs):
    """The per-row kernel ``fn`` over the decoded rows of one or two binary
    arrays → float64 Arrow; a null input row or a NaN result gives NULL."""
    rows = zip(*(x.to_pylist() for x in arrs))
    return _double_out(np.array(
        [np.nan if None in r else fn(*map(from_ewkb, r)) for r in rows],
        dtype=np.float64))


@arrow_udf(DoubleType())
def _x_udf(a):
    fast = uniform_batch_pa(a)
    if fast is not None and fast[0] == "point2d":
        return _double_out(np.ascontiguousarray(fast[1]))
    return _per_row_double(_coord_accessor(0), a)


@arrow_udf(DoubleType())
def _y_udf(a):
    fast = uniform_batch_pa(a)
    if fast is not None and fast[0] == "point2d":
        return _double_out(np.ascontiguousarray(fast[2]))
    return _per_row_double(_coord_accessor(1), a)


def st_x(col) -> Column:
    return active_udf(_x_udf)(col_or_lit(col))


def st_y(col) -> Column:
    return active_udf(_y_udf)(col_or_lit(col))


def st_z(col) -> Column:
    return unary_scalar(_coord_accessor(2, "z"), "double")(col_or_lit(col))


def st_m(col) -> Column:
    return unary_scalar(_coord_accessor(-1, "m"), "double")(col_or_lit(col))


# ----------------------------------------------------------------------
# Measures
# ----------------------------------------------------------------------

def _with_nulls(vals: np.ndarray, null_mask: np.ndarray) -> pd.Series:
    """Float/array values → Series with None at null positions."""
    if not null_mask.any():
        return pd.Series(list(vals)) if vals.ndim > 1 else pd.Series(vals)
    out = np.empty(len(vals), dtype=object)
    for i in range(len(vals)):
        if not null_mask[i]:
            out[i] = list(vals[i]) if vals.ndim > 1 else vals[i]
    return pd.Series(out, dtype=object)


@arrow_udf(DoubleType())
def _area_udf(a):
    import pyarrow as pa

    fast = uniform_batch_pa(a)
    if fast is not None:
        if fast[0] == "point2d":
            return pa.array(np.zeros(len(a)), type=pa.float64())
        c = fast[1]
        # translate to each ring's first vertex (same cancellation
        # robustness as the scalar _ring_signed_area)
        x = c[:, :, 0] - c[:, :1, 0]
        y = c[:, :, 1] - c[:, :1, 1]
        v = 0.5 * np.abs(
            np.sum(x * np.roll(y, -1, axis=1) - np.roll(x, -1, axis=1) * y, axis=1)
        )
        return _double_out(v)
    rp = ragged.parse_polygonal(a)
    if rp is not None:
        return _double_out(ragged.area(rp), mask=rp.null_mask)
    mixed = _mixed_measure(a, "area")
    if mixed is not None:
        return mixed
    return _per_row_double(algos.area, a)


def st_area(col) -> Column:
    """(reference: functions.rs:794-796). Uniform single-ring batches take a
    numpy-vectorized shoelace path; mixed polygon batches (holes, varying
    vertex counts, multipolygons) take the ragged CSR path (geo/ragged.py) —
    per-row Python only for non-polygonal mixtures."""
    return active_udf(_area_udf)(col_or_lit(col))


def _mixed_measure(a, which: str):
    """Mixed-family batches (points interleaved with polygons/lines): split
    by a vectorized header scan and route each family through its ragged
    kernel — points/multipoints contribute 0 to area/length. Returns None
    (caller falls back) when the batch has collections/Z/M rows or a
    family-subset parse fails."""
    fam = ragged.split_families(a)
    if fam is None:
        return None
    n_fams = sum(1 for k in ("line", "poly") if len(fam[k]))
    n_fams += 1 if (len(fam["point"]) or len(fam["mpoint"])) else 0
    if n_fams < 2:
        return None  # homogeneous: the dedicated paths already handle it
    out = np.zeros(len(a))
    if len(fam["poly"]):
        rp = ragged.parse_polygonal(a.take(fam["poly"]))
        if rp is None:
            return None
        out[fam["poly"]] = ragged.area(rp) if which == "area" else ragged.perimeter(rp)
    if which == "length" and len(fam["line"]):
        rl = ragged.parse_lineal(a.take(fam["line"]))
        if rl is None:
            return None
        out[fam["line"]] = ragged.length(rl)
    null_mask = np.zeros(len(a), dtype=bool)
    null_mask[fam["null"]] = True
    return _double_out(out, mask=null_mask)


@arrow_udf(DoubleType())
def _length_udf(a):
    import pyarrow as pa

    fast = uniform_batch_pa(a)
    if fast is not None:
        if fast[0] == "point2d":
            return pa.array(np.zeros(len(a)), type=pa.float64())
        c = fast[1]
        d = np.diff(c, axis=1)
        return _double_out(np.sqrt((d * d).sum(axis=2)).sum(axis=1))
    rl = ragged.parse_lineal(a)
    if rl is not None:
        return _double_out(ragged.length(rl), mask=rl.null_mask)
    rp = ragged.parse_polygonal(a)
    if rp is not None:
        return _double_out(ragged.perimeter(rp), mask=rp.null_mask)
    mixed = _mixed_measure(a, "length")
    if mixed is not None:
        return mixed
    return _per_row_double(algos.length, a)


def st_length(col) -> Column:
    """(reference: functions.rs:815-817). Vectorized for uniform ring batches
    and for ragged (Multi)LineString / (Multi)Polygon batches."""
    return active_udf(_length_udf)(col_or_lit(col))


def st_distance(col, other) -> Column:
    """NaN→NULL if either empty (reference: functions.rs:819-829).
    Vectorized for uniform point batches, ragged polygon batches vs a
    constant point (CSR segment sweep), and point batches vs a constant
    areal geometry."""
    other_g = geom_arg(other)
    if isinstance(other_g, Geometry) and other_g.type_id == GeometryType.Point and other_g.coords is not None:
        qx, qy = float(other_g.coords[0]), float(other_g.coords[1])

        @arrow_series_udf("double")
        def udf_fast(s: pd.Series) -> pd.Series:
            fast = uniform_batch_pa(s)
            if fast is not None and fast[0] == "point2d":
                return pd.Series(np.sqrt((fast[1] - qx) ** 2 + (fast[2] - qy) ** 2))
            rp = ragged.parse_polygonal(s)
            if rp is not None:
                n = len(s)
                d = ragged.distance_to_points(rp, np.full(n, qx), np.full(n, qy))
                return pd.Series(d)  # NaN (empty/null rows) -> NULL at Arrow
            return pd.Series(
                [None if b is None else algos.distance(from_ewkb(bytes(b)), other_g) for b in s],
                dtype=object,
            )

        return udf_fast(col_or_lit(col))
    from polars_st_spark.geo.curves import _is_curved

    if (
        isinstance(other_g, Geometry)
        and not other_g.is_empty()
        and not _is_curved(other_g)
        and other_g.type_id in (GeometryType.Polygon, GeometryType.MultiPolygon)
    ):
        # point column vs constant areal geometry
        g2 = other_g

        @arrow_series_udf("double")
        def udf_pts(s: pd.Series) -> pd.Series:
            fast = uniform_batch_pa(s)
            if fast is not None and fast[0] == "point2d":
                d = ragged.const_polygon_distance(g2, fast[1], fast[2])
                if d is not None:
                    return pd.Series(d)
            return pd.Series(
                [None if b is None else algos.distance(from_ewkb(bytes(b)), g2) for b in s],
                dtype=object,
            )

        return udf_pts(col_or_lit(col))
    if not isinstance(other_g, Geometry):
        from polars_st_spark.functions import fuse

        c1, c2 = col_or_lit(col), col_or_lit(other_g)
        fused = fuse.apply_pair(_distance_pair_udf, "double", c1, c2)
        return fused if fused is not None else active_udf(_distance_pair_udf)(c1, c2)
    udf, oc = binary_scalar(algos.distance, "double", other_g)
    return udf(col_or_lit(col)) if oc is None else udf(col_or_lit(col), oc)


# column × column distance (r4b; module-level since r8 so the SQL surface
# can register the identical vectorized UDF): row-paired point×point,
# point×ragged-polygon (either direction, inside→0), point×ragged-line,
# and geometry×geometry via the pairs_distance candidate sweep.
@arrow_udf(DoubleType())
def _distance_pair_udf(a1, a2):
    if len(a1) and not a1.null_count and not a2.null_count:
        fa = uniform_batch_pa(a1)
        fb = uniform_batch_pa(a2)
        a_pt = fa is not None and fa[0] == "point2d"
        b_pt = fb is not None and fb[0] == "point2d"
        if a_pt and b_pt:
            return _double_out(np.hypot(fa[1] - fb[1], fa[2] - fb[2]))
        for pt, other in ((fa, a2), (fb, a1)) if (a_pt or b_pt) else ():
            if pt is None or pt[0] != "point2d":
                continue
            rp = ragged.parse_polygonal(other)
            if rp is not None:
                return _double_out(ragged.distance_to_points(rp, pt[1], pt[2]))
            rl = ragged.parse_lineal(other)
            if rl is not None:
                return _double_out(
                    ragged.distance_lines_to_points(rl, pt[1], pt[2]))
            break
        if not (a_pt or b_pt):
            # geometry×geometry pairs (r4e): intersects -> 0, else the
            # scalar candidate set vectorized (pairs_distance)
            ra = ragged.parse_polygonal(a1)
            if ra is None:
                ra = ragged.parse_lineal(a1)
            rb = None
            if ra is not None:
                rb = ragged.parse_polygonal(a2)
                if rb is None:
                    rb = ragged.parse_lineal(a2)
            if ra is not None and rb is not None:
                d = ragged.pairs_distance(ra, rb)
                if d is not None:
                    return _double_out(d)
    return _per_row_double(algos.distance, a1, a2)


def st_hausdorff_distance(col, other, densify: float | None = None) -> Column:
    udf, oc = binary_scalar(
        lambda a, b: algos.hausdorff_distance(a, b, densify), "double", geom_arg(other)
    )
    return udf(col_or_lit(col)) if oc is None else udf(col_or_lit(col), oc)


def st_frechet_distance(col, other, densify: float | None = None) -> Column:
    udf, oc = binary_scalar(
        lambda a, b: algos.frechet_distance(a, b, densify), "double", geom_arg(other)
    )
    return udf(col_or_lit(col)) if oc is None else udf(col_or_lit(col), oc)


def st_minimum_clearance(col) -> Column:
    return unary_scalar(algos.minimum_clearance, "double")(col_or_lit(col))


def st_project(col, other, normalized: bool = False) -> Column:
    """line-locate-point (reference: functions.rs:1719-1743)."""
    udf, oc = binary_scalar(
        lambda a, b: algos.line_locate_point(a, b, normalized), "double", geom_arg(other)
    )
    return udf(col_or_lit(col)) if oc is None else udf(col_or_lit(col), oc)


def _bounds_list_out(mat: np.ndarray, null_rows: np.ndarray | None = None):
    """(n, 4) float64 → Arrow list<double> with 4 values per row, one
    vectorized construction (no per-row Python lists). NaN elements become
    null elements and ``null_rows`` become null rows — matching what the
    pandas boundary does to NaN-bearing lists (engine NaN→NULL rule)."""
    import pyarrow as pa

    n = len(mat)
    offsets = np.arange(0, 4 * (n + 1), 4, dtype=np.int32)
    flat = np.ascontiguousarray(mat).reshape(-1)
    nanm = np.isnan(flat)
    values = pa.array(flat, type=pa.float64(),
                      mask=nanm if nanm.any() else None)
    if null_rows is not None and null_rows.any():
        # null ROW: emit a zero-length span under a validity bitmap (the
        # from_arrays mask path) — element offsets stay monotone
        offs_arr = pa.array(offsets, type=pa.int32())
        out = pa.ListArray.from_arrays(offs_arr, values)
        keep = pa.array(~null_rows)
        return pa.compute.if_else(keep, out, pa.scalar(None, out.type))
    return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), values)


@arrow_udf(spark_dt("array<double>"))
def _bounds_udf(a):
    fast = uniform_batch_pa(a)
    if fast is not None:
        if fast[0] == "point2d":
            x, y = fast[1], fast[2]
            mat = np.stack([x, y, x, y], axis=1)
        else:
            c = fast[1]
            mat = np.stack(
                [c[:, :, 0].min(axis=1), c[:, :, 1].min(axis=1),
                 c[:, :, 0].max(axis=1), c[:, :, 1].max(axis=1)], axis=1,
            )
        return _bounds_list_out(mat)
    rg = (ragged.parse_polygonal(a) or ragged.parse_lineal(a)
          or ragged.parse_multipoints(a))
    if rg is not None:
        return _bounds_list_out(ragged.bounds(rg), null_rows=rg.null_mask)
    mixed = _mixed_bounds(a)
    if mixed is not None:
        return mixed
    rows = a.to_pylist()
    mat = np.full((len(rows), 4), np.nan)
    for i, b in enumerate(rows):
        if b is not None:
            mat[i] = from_ewkb(b).bounds()
    return _bounds_list_out(mat, null_rows=a.is_null().to_numpy(zero_copy_only=False))


def _bounds_udf_builder():
    return active_udf(_bounds_udf)


def st_bounds(col) -> Column:
    """[xmin,ymin,xmax,ymax]; NaN when empty (reference: functions.rs:798-813).
    Vectorized for uniform point/ring batches and ragged polygon/line batches."""
    return _bounds_udf_builder()(col_or_lit(col))


def _mixed_bounds(a):
    """Bounds over mixed point/multipoint/line/polygon batches: family
    split + the ragged bounds kernels, bare points through the uniform
    parser."""
    fam = ragged.split_families(a)
    if fam is None:
        return None
    n_fams = sum(1 for k in ("point", "mpoint", "line", "poly") if len(fam[k]))
    if n_fams < 2:
        return None
    out = np.full((len(a), 4), np.nan)
    for key, parse in (("poly", ragged.parse_polygonal), ("line", ragged.parse_lineal),
                       ("mpoint", ragged.parse_multipoints)):
        idx = fam[key]
        if len(idx):
            rg = parse(a.take(idx))
            if rg is None:
                return None
            out[idx] = ragged.bounds(rg)
    if len(fam["point"]):
        idx = fam["point"]
        fastp = uniform_batch_pa(a.take(idx))
        if fastp is None or fastp[0] != "point2d":
            return None
        x, y = fastp[1], fastp[2]
        out[idx, 0] = x
        out[idx, 1] = y
        out[idx, 2] = x
        out[idx, 3] = y
    null_mask = np.zeros(len(a), dtype=bool)
    null_mask[fam["null"]] = True
    return _bounds_list_out(out, null_rows=null_mask)


# ----------------------------------------------------------------------
# Counts and part extraction (reference: functions.rs:489-685)
# ----------------------------------------------------------------------

def st_count_coordinates(col) -> Column:
    """Counts stored coordinates (curve control points, not linearization).
    Ragged polygon/line batches read the counts straight off the CSR row
    offsets — no geometry objects."""
    return _count_coordinates_udf()(col_or_lit(col))


def _count_coordinates_udf():
    @arrow_series_udf("int")
    def udf(s: pd.Series) -> pd.Series:
        rg = (ragged.parse_polygonal(s) or ragged.parse_lineal(s)
              or ragged.parse_multipoints(s))
        if rg is not None:
            return _with_nulls(np.diff(rg.row_start).astype(np.int32), rg.null_mask)
        return pd.Series(
            [None if b is None else len(from_ewkb(bytes(b)).raw_coords()) for b in s],
            dtype=object,
        )

    return udf


def st_count_points(col) -> Column:
    """0 for non-lineal (reference: functions.rs:520-528)."""
    return unary_scalar(
        lambda g: len(g.coords) if (g.type_id in (GeometryType.LineString, GeometryType.CircularString) and g.coords is not None) else 0,
        "int",
    )(col_or_lit(col))


def st_count_interior_rings(col) -> Column:
    """0 for non-Polygon (reference: functions.rs:530-538)."""
    return unary_scalar(
        lambda g: max(0, len(g.rings) - 1) if (g.type_id == GeometryType.Polygon and g.rings) else 0,
        "int",
    )(col_or_lit(col))


def st_count_geometries(col) -> Column:
    """(reference: functions.rs:540-546)"""

    def fn(g: Geometry):
        if g.geoms is not None:
            return len(g.geoms)
        return 0 if g.is_empty() else 1

    return unary_scalar(fn, "int")(col_or_lit(col))


def st_coordinates(col, output_dimension: int = 2) -> Column:
    """List of coordinate tuples (reference: functions.rs:556-621)."""

    return unary_scalar(
        lambda g: _coordinates_fn(g, output_dimension),
        "array<array<double>>")(col_or_lit(col))


def _coordinates_fn(g: Geometry, output_dimension: int = 2):
    c = g.raw_coords()
    d = min(output_dimension, c.shape[1]) if len(c) else output_dimension
    return [list(map(float, row[:d])) for row in c]


def _exterior_ring_fn(g: Geometry):
    if g.type_id != GeometryType.Polygon or not g.rings:
        return None
    from polars_st_spark.geo.algos import _closed

    return to_ewkb(
        Geometry(GeometryType.LineString, srid=g.srid, has_z=g.has_z,
                 coords=_closed(g.rings[0]).copy())
    )


def st_exterior_ring(col) -> Column:
    """Null for non-Polygon (reference: functions.rs:489-499)."""
    return unary_scalar(_exterior_ring_fn, "binary")(col_or_lit(col))


def _interior_rings_fn(g: Geometry):
    if g.type_id != GeometryType.Polygon or not g.rings:
        return []
    from polars_st_spark.geo.algos import _closed

    return [
        to_ewkb(Geometry(GeometryType.LineString, srid=g.srid, has_z=g.has_z,
                         coords=_closed(r).copy()))
        for r in g.rings[1:]
    ]


def st_interior_rings(col) -> Column:
    """Empty list for non-Polygon (reference: functions.rs:501-518)."""
    return unary_scalar(_interior_rings_fn, "array<binary>")(col_or_lit(col))


def _parts_fn(g: Geometry):
    if g.geoms is not None:
        return [to_ewkb(s if s.srid else s.with_srid(g.srid)) for s in g.geoms]
    return [to_ewkb(g)]


def st_parts(col) -> Column:
    """Collection parts (reference: functions.rs:673-685)."""
    return unary_scalar(_parts_fn, "array<binary>")(col_or_lit(col))


def _indexed(fn):
    """Index is broadcastable like the reference's Expr parameter
    (functions.rs:631-671): Python int or per-row Column / column name.
    The raw kernel stays reachable as ``outer._kernel`` (SQL registry)."""

    def outer(col, index):
        from pyspark.sql import Column as _Col

        from polars_st_spark.functions.factory import unary_scalar_param

        if isinstance(index, (_Col, str)):
            return unary_scalar_param(
                lambda g, i: fn(g, int(i)), "binary", index)(col)
        return unary_scalar(lambda g: fn(g, index), "binary")(col_or_lit(col))

    outer._kernel = fn
    return outer


@_indexed
def st_get_point(g: Geometry, i: int):
    """Null out-of-range (reference: functions.rs:631-643)."""
    if g.type_id not in (GeometryType.LineString, GeometryType.CircularString) or g.coords is None:
        return None
    n = len(g.coords)
    if i < 0:
        i += n
    if not (0 <= i < n):
        return None
    return to_ewkb(Geometry(GeometryType.Point, srid=g.srid, has_z=g.has_z, coords=g.coords[i].copy()))


@_indexed
def st_get_interior_ring(g: Geometry, i: int):
    if g.type_id != GeometryType.Polygon or not g.rings or not (0 <= i < len(g.rings) - 1):
        return None
    from polars_st_spark.geo.algos import _closed

    return to_ewkb(
        Geometry(GeometryType.LineString, srid=g.srid, has_z=g.has_z,
                 coords=_closed(g.rings[i + 1]).copy())
    )


@_indexed
def st_get_geometry(g: Geometry, i: int):
    if g.geoms is None:
        return to_ewkb(g) if i == 0 else None
    n = len(g.geoms)
    if i < 0:
        i += n
    if not (0 <= i < n):
        return None
    s = g.geoms[i]
    return to_ewkb(s if s.srid else s.with_srid(g.srid))


# ----------------------------------------------------------------------
# Unary predicates (reference: functions.rs:885-933)
# ----------------------------------------------------------------------

def st_is_empty(col) -> Column:
    return unary_scalar(lambda g: g.is_empty(), "boolean")(col_or_lit(col))


def st_is_valid(col) -> Column:
    return unary_scalar(algos.is_valid, "boolean")(col_or_lit(col))


def st_is_valid_reason(col) -> Column:
    return unary_scalar(algos.is_valid_reason, "string")(col_or_lit(col))


def st_is_simple(col) -> Column:
    return unary_scalar(algos.is_simple, "boolean")(col_or_lit(col))


def st_is_ring(col) -> Column:
    return unary_scalar(algos.is_ring, "boolean")(col_or_lit(col))


def st_is_closed(col) -> Column:
    return unary_scalar(algos.is_closed, "boolean")(col_or_lit(col))


def st_is_ccw(col) -> Column:
    return unary_scalar(algos.is_ccw, "boolean")(col_or_lit(col))


# ----------------------------------------------------------------------
# Serialization (reference: functions.rs:703-777)
# ----------------------------------------------------------------------

def st_to_wkt(col, rounding_precision: int = 6, trim: bool = True,
              output_dimension: int = 3, old_3d: bool = False) -> Column:
    return unary_scalar(
        lambda g: _wkt.to_wkt(g, rounding_precision, trim, output_dimension, old_3d),
        "string",
    )(col_or_lit(col))


def st_to_ewkt(col, rounding_precision: int = 6, trim: bool = True,
               output_dimension: int = 3, old_3d: bool = False) -> Column:
    return unary_scalar(
        lambda g: _wkt.to_ewkt(g, rounding_precision, trim, output_dimension, old_3d),
        "string",
    )(col_or_lit(col))


def st_to_wkb(col, output_dimension: int = 3, byte_order: int | None = None,
              include_srid: bool = False) -> Column:
    """Reference signature and defaults (geoexpr.py:394-415,
    functions.rs:734-746): ``output_dimension`` caps the written dims (2
    strips Z/M; 2-D stays 2-D under 3), ``byte_order`` None = native little
    endian, 0 = big endian / XDR, 1 = little endian / NDR."""
    bo = 1 if byte_order is None else byte_order
    if bo not in (0, 1):
        raise ValueError(f"byte_order must be None, 0 or 1, got {byte_order}")
    if output_dimension not in (2, 3, 4):
        raise ValueError(f"output_dimension must be 2, 3 or 4, got {output_dimension}")
    return unary_scalar(
        lambda g: _to_wkb_fn(g, output_dimension, bo, include_srid), "binary"
    )(col_or_lit(col))


def _to_wkb_fn(g: Geometry, output_dimension: int, bo: int, include_srid: bool):
    if output_dimension == 2 and (g.has_z or g.has_m):
        from polars_st_spark.geo.algos import force_2d

        g = force_2d(g)
    elif output_dimension == 3 and g.has_z and g.has_m:
        # GEOS WKBWriter caps at 3 dims by dropping M and keeping XYZ
        # (an XYM-only geometry already fits in 3 dims and keeps M)
        from polars_st_spark.geo.algos import drop_m

        g = drop_m(g)
    return to_ewkb(g, include_srid=include_srid, byte_order=bo)


def st_to_geojson(col, indent: int | None = None) -> Column:
    return unary_scalar(lambda g: _gj.to_geojson(g, indent), "string")(col_or_lit(col))
