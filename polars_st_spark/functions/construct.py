"""Geometry constructors (reference: §2.2, polars_st/parsing.py).

``st_point`` and ``st_rectangle`` are fully numpy-vectorized inside the Arrow
batch (no per-row Python) — these are the hot constructors at 100 TB scale
where geometry is derived from numeric columns.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf

from polars_st_spark.functions.factory import (
    col_or_lit,
    pa_binary_rows,
    pa_out,
    per_row,
    spark_dt,
)
from polars_st_spark.geo import geojson as _gj
from polars_st_spark.geo import wkt as _wkt
from polars_st_spark.geo.types import Geometry, GeometryType
from polars_st_spark.geo.wkb import points_to_ewkb_matrix

__all__ = [
    "st_point",
    "st_rectangle",
    "st_from_wkt",
    "st_from_ewkt",
    "st_from_wkb",
    "st_from_geojson",
    "st_linestring",
    "st_circularstring",
    "st_polygon",
    "st_multipoint",
    "st_multilinestring",
    "st_from_coords",
]


def _f64_null(a):
    """pyarrow numeric array → (float64 ndarray with NaN at nulls, null mask)."""
    import pyarrow as pa

    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    mask = a.is_null().to_numpy(zero_copy_only=False)
    vals = np.asarray(a.to_numpy(zero_copy_only=False), dtype=np.float64)
    return vals, mask


def _point2_udf(srid: int = 0):
    """(x, y) → EWKB point UDF builder (shared with the SQL registry).

    arrow_udf end to end: numeric Arrow buffers in, one (n, rowlen) uint8
    matrix out through pa_binary_rows — zero per-row Python objects."""

    @arrow_udf(spark_dt("binary"))
    def udf(xa, ya):
        x, mx = _f64_null(xa)
        y, my = _f64_null(ya)
        return pa_binary_rows(points_to_ewkb_matrix(x, y, srid=srid), mx | my)

    return udf


def st_point(x, y, z=None, srid: int = 0) -> Column:
    """Point from numeric columns → EWKB binary (reference: parsing.py:37-77).

    Vectorized: builds the whole Arrow batch's EWKB with numpy slice writes.
    """
    if z is None:
        from polars_st_spark.functions.fuse import tagged

        return tagged(_point2_udf(srid), col_or_lit(x), col_or_lit(y))

    @arrow_udf(spark_dt("binary"))
    def udf3(xa, ya, za):
        xv, mx = _f64_null(xa)
        yv, my = _f64_null(ya)
        zv, mz = _f64_null(za)
        return pa_binary_rows(
            points_to_ewkb_matrix(xv, yv, zv, srid=srid), mx | my | mz)

    from polars_st_spark.functions.fuse import tagged

    return tagged(udf3, col_or_lit(x), col_or_lit(y), col_or_lit(z))


def st_rectangle(xmin, ymin, xmax, ymax, srid: int = 0) -> Column:
    """Axis-aligned rectangle polygon from 4 numeric columns
    (reference: parsing.py:250-282, functions.rs:290-299). Vectorized."""

    @arrow_udf(spark_dt("binary"))
    def udf(x0a, y0a, x1a, y1a):
        x0, m0 = _f64_null(x0a)
        y0, m1 = _f64_null(y0a)
        x1, m2 = _f64_null(x1a)
        y1, m3 = _f64_null(y1a)
        n = len(x0)
        mask = m0 | m1 | m2 | m3
        with_srid = srid != 0
        head = 1 + 4 + (4 if with_srid else 0) + 4 + 4  # endian+type[+srid]+nrings+npts
        rowlen = head + 5 * 16
        buf = np.empty((n, rowlen), dtype=np.uint8)
        buf[:, 0] = 1
        word = int(GeometryType.Polygon) | (0x20000000 if with_srid else 0)
        buf[:, 1:5] = np.frombuffer(struct.pack("<I", word), dtype=np.uint8)
        off = 5
        if with_srid:
            buf[:, 5:9] = np.frombuffer(struct.pack("<I", srid), dtype=np.uint8)
            off = 9
        buf[:, off : off + 4] = np.frombuffer(struct.pack("<I", 1), dtype=np.uint8)
        buf[:, off + 4 : off + 8] = np.frombuffer(struct.pack("<I", 5), dtype=np.uint8)
        # ring: (x0,y0) (x1,y0) (x1,y1) (x0,y1) (x0,y0)  — CCW
        ring = np.empty((n, 10), dtype="<f8")
        ring[:, 0], ring[:, 1] = x0, y0
        ring[:, 2], ring[:, 3] = x1, y0
        ring[:, 4], ring[:, 5] = x1, y1
        ring[:, 6], ring[:, 7] = x0, y1
        ring[:, 8], ring[:, 9] = x0, y0
        buf[:, head:] = ring.view(np.uint8).reshape(n, 80)
        return pa_binary_rows(buf, mask)

    from polars_st_spark.functions.fuse import tagged

    return tagged(
        udf, col_or_lit(xmin), col_or_lit(ymin), col_or_lit(xmax), col_or_lit(ymax))


def _row_udf(one):
    """Binary UDF building each row's geometry with ``one(value)`` (the
    per-row constructors: text and nested-list inputs)."""

    @arrow_udf(spark_dt("binary"))
    def udf(a):
        return pa_out(per_row(one, a), "binary")

    return udf


def _parser_udf(parse, srid: int | None = None):
    def one(v):
        g = parse(v)
        return g.with_srid(srid) if srid else g

    return _row_udf(one)


def _f8(c) -> np.ndarray:
    """One coordinate list as float64 (a null element reads as NaN)."""
    return np.asarray(c, dtype=np.float64)


def st_from_wkt(col, srid: int = 0) -> Column:
    """(reference: parsing.py:341-356)"""
    from polars_st_spark.functions.fuse import tagged

    return tagged(_parser_udf(_wkt.from_wkt, srid), col_or_lit(col))


def st_from_ewkt(col) -> Column:
    """Parses ``SRID=n;WKT`` (reference: parsing.py:359-374)."""
    from polars_st_spark.functions.fuse import tagged

    return tagged(_parser_udf(_wkt.from_ewkt), col_or_lit(col))


def st_from_wkb(col, srid: int = 0) -> Column:
    """Validate/normalize WKB → EWKB (reference: parsing.py:323-338)."""
    from polars_st_spark.functions.fuse import tagged

    # the binary input arrives decoded (factory.per_row)
    return tagged(_parser_udf(lambda g: g, srid), col_or_lit(col))


def st_from_geojson(col, srid: int = 0) -> Column:
    """(reference: parsing.py:377-402)"""
    from polars_st_spark.functions.fuse import tagged

    return tagged(_parser_udf(_gj.from_geojson, srid), col_or_lit(col))


def st_linestring(coords_col, srid: int = 0) -> Column:
    """LineString from array<array<double>> column (reference: parsing.py:117-167)."""

    def one(v):
        arr = np.asarray([_f8(c) for c in v])
        if arr.ndim == 1:
            arr = arr.reshape(0, 2)
        return Geometry(
            GeometryType.LineString,
            srid=srid,
            has_z=arr.shape[1] >= 3 if len(arr) else False,
            coords=arr,
        )

    from polars_st_spark.functions.fuse import tagged

    return tagged(_row_udf(one), col_or_lit(coords_col))


def st_circularstring(coords_col, srid: int = 0) -> Column:
    """CircularString from array<array<double>> (reference: parsing.py:117-167).
    Stored/propagated as EWKB; header-level ops work, GEOS-style computations
    on curves raise (SURVEY §7 hard part 1 — curve support)."""

    def one(v):
        arr = np.asarray([_f8(c) for c in v])
        if arr.ndim == 1:
            arr = arr.reshape(0, 2)
        return Geometry(
            GeometryType.CircularString,
            srid=srid,
            has_z=arr.shape[1] >= 3 if len(arr) else False,
            coords=arr,
        )

    from polars_st_spark.functions.fuse import tagged

    return tagged(_row_udf(one), col_or_lit(coords_col))


def st_multilinestring(lines_col, srid: int = 0) -> Column:
    """MultiLineString from array<array<array<double>>>."""

    def one(v):
        lines = [
            Geometry(
                GeometryType.LineString,
                srid=srid,
                has_z=bool(len(c) and len(c[0]) >= 3),
                coords=np.asarray([_f8(p) for p in c]),
            )
            for c in v
        ]
        return Geometry(GeometryType.MultiLineString, srid=srid,
                        has_z=any(l.has_z for l in lines), geoms=lines)

    from polars_st_spark.functions.fuse import tagged

    return tagged(_row_udf(one), col_or_lit(lines_col))


def st_polygon(rings_col, srid: int = 0) -> Column:
    """Polygon from array<array<array<double>>> (reference: parsing.py:170-247)."""

    def one(v):
        rings = [np.asarray([_f8(c) for c in ring]) for ring in v]
        has_z = bool(rings and len(rings[0]) and rings[0].shape[1] >= 3)
        return Geometry(GeometryType.Polygon, srid=srid, has_z=has_z, rings=rings)

    from polars_st_spark.functions.fuse import tagged

    return tagged(_row_udf(one), col_or_lit(rings_col))


def st_multipoint(coords_col, srid: int = 0) -> Column:
    """MultiPoint from array<array<double>> (reference: parsing.py:80-114)."""

    def one(v):
        pts = [
            Geometry(GeometryType.Point, srid=srid, has_z=len(c) >= 3,
                     coords=_f8(c))
            for c in v
        ]
        return Geometry(GeometryType.MultiPoint, srid=srid,
                        has_z=any(p.has_z for p in pts), geoms=pts)

    from polars_st_spark.functions.fuse import tagged

    return tagged(_row_udf(one), col_or_lit(coords_col))


def st_from_coords(col, srid: int = 0) -> Column:
    """Infer Point/LineString/Polygon from nesting depth
    (reference: parsing.py:285-320, expressions.rs:192-209)."""

    def depth(v) -> int:
        d = 0
        while isinstance(v, list) and len(v):
            v = v[0]
            d += 1
        return d

    def one(v):
        d = depth(v)
        if d == 1:
            return Geometry(GeometryType.Point, srid=srid, has_z=len(v) >= 3,
                            coords=_f8(v))
        if d == 2:
            arr = np.asarray([_f8(c) for c in v])
            return Geometry(GeometryType.LineString, srid=srid,
                            has_z=arr.shape[1] >= 3, coords=arr)
        rings = [np.asarray([_f8(c) for c in ring]) for ring in v]
        return Geometry(GeometryType.Polygon, srid=srid,
                        has_z=bool(rings and rings[0].shape[1] >= 3), rings=rings)

    from polars_st_spark.functions.fuse import tagged

    return tagged(_row_udf(one), col_or_lit(col))
