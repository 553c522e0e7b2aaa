"""Spatial aggregations (reference: §2.7, expressions.rs:873-999).

Every geometry aggregate is an Arrow grouped-aggregate UDF (evalType 252,
planned as ``ArrowAggregatePython``; usable in ``groupBy().agg(...)``,
whole-frame ``select`` and SQL ``GROUP BY``): one kernel per aggregate,
``pa.Array`` of EWKB in, EWKB bytes out. ``st_total_bounds`` is pure Spark
SQL and needs no Python at all for the aggregation step.

Spark plans one eval type per ``.agg()``: a user's own pandas
``GROUPED_AGG`` UDF (evalType 202) cannot share a ``.agg()`` with these;
write it as an ``arrow_udf`` or aggregate it separately and join.

Scale notes (100 TB):
- A grouped aggregate ships all group values to one task. ``union_all`` /
  ``intersection_all`` are associative+commutative (reference:
  expressions.rs:985-999), so for huge groups use
  :func:`polars_st_spark.operators.grouped.union_all_two_phase`, which does a
  map-side partial union per shuffle partition first (the treeAggregate
  pattern).
- ``difference_all``/``symmetric_difference_all`` are order-dependent left
  folds (reference: expressions.rs:873-886) — use the frame-level variants in
  ``operators.grouped`` that sort within each group by an explicit key.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from polars_st_spark.functions.factory import col_or_lit, spark_dt
from polars_st_spark.geo import setops
from polars_st_spark.geo.wkb import from_ewkb, to_ewkb

__all__ = [
    "st_union_all",
    "st_intersection_all",
    "st_difference_all",
    "st_symmetric_difference_all",
    "st_coverage_union_all",
    "st_collect",
    "st_total_bounds",
    "st_polygonize_agg",
    "st_voronoi_polygons_agg",
    "st_delaunay_triangles_agg",
]


def geom_agg(kernel, **params):
    """Arrow grouped aggregate (evalType 252) running
    ``kernel(a, **params)`` on each group's ``pa.Array`` of EWKB."""

    def agg(a: pa.Array) -> bytes:
        return kernel(a, **params)

    return arrow_udf(agg, spark_dt("binary"))


def _decode(a: pa.Array) -> list:
    return [None if b is None else from_ewkb(b) for b in a.to_pylist()]


def _non_null(a: pa.Array) -> list:
    return [from_ewkb(b) for b in a.to_pylist() if b is not None]


def union_array(a: pa.Array, grid_size: float | None = None) -> bytes:
    """EWKB union of one Arrow array of EWKB values — the kernel behind
    ``st_union_all``, also run by the two-phase map side
    (``operators.grouped.union_all_two_phase``), so both take the same
    uniform axis-rect slab-union fast lane."""
    from polars_st_spark.geo.arrowwkb import uniform_batch_pa
    from polars_st_spark.geo.rectregion import RectRegion, region_to_geometry
    from polars_st_spark.geo.wkb import header_info

    if len(a) and a.null_count == 0:
        fast = uniform_batch_pa(a)
        if fast is not None and fast[0] == "ring" and fast[2]:
            c = fast[1]
            boxes = zip(
                c[:, :, 0].min(axis=1), c[:, :, 1].min(axis=1),
                c[:, :, 0].max(axis=1), c[:, :, 1].max(axis=1),
            )
            region = RectRegion([tuple(map(float, b)) for b in boxes])
            region = region.union(RectRegion())  # normalize to disjoint
            srid = header_info(a[0].as_py())[3]
            return to_ewkb(region_to_geometry(region, srid))
    geoms = _decode(a)
    if grid_size is None and geoms and all(g is not None for g in geoms):
        # rectilinear fast path (r10): inputs that are hole-free axis-rect
        # (multi)polygons — the exact shape the two-phase union's partials
        # have (region_to_geometry emits disjoint rect parts) — union
        # through ONE slab normalize instead of the general overlay
        # engine. Bails on the first non-rect part, so non-rect data pays
        # one cheap ring check.
        from polars_st_spark.geo.rectregion import rect_parts

        boxes = []
        for g in geoms:
            parts = rect_parts(g)
            if parts is None:
                boxes = None
                break
            boxes += parts
        if boxes:  # all-empty batches keep the general kernel's
            # GEOMETRYCOLLECTION EMPTY convention
            region = RectRegion(boxes).union(RectRegion())
            return to_ewkb(region_to_geometry(region, geoms[0].srid))
    return to_ewkb(setops.union_all(geoms, grid_size))


def _intersection_all(a: pa.Array, grid_size: float | None = None) -> bytes:
    """EWKB intersection of one Arrow array of EWKB values. A group of
    two or more non-null single axis rectangles whose common box has
    positive area is one max/min reduction; every other group folds
    pairwise (``setops.intersection_all``)."""
    if grid_size is None:
        rect = _common_rect(a.drop_null())
        if rect is not None:
            return rect
    return to_ewkb(setops.intersection_all(_decode(a), grid_size))


def _common_rect(a: pa.Array) -> bytes | None:
    """The rectangle lane of :func:`_intersection_all`, or None. The fold
    intersects rectangles through ``geometry_to_region``, which rounds
    each coordinate to 12 decimals; ``round`` is monotone, so the max/min
    of the raw coordinates rounded once equals the fold's max/min of
    rounded ones. The box is encoded through the same
    ``region_to_geometry`` with the first row's SRID, as the fold's last
    step does."""
    from polars_st_spark.geo.arrowwkb import uniform_batch_pa
    from polars_st_spark.geo.rectregion import RectRegion, region_to_geometry
    from polars_st_spark.geo.wkb import header_info

    if len(a) < 2:
        return None
    fast = uniform_batch_pa(a)
    if fast is None or fast[0] != "ring" or not fast[2]:
        return None
    x, y = fast[1][:, :, 0], fast[1][:, :, 1]
    x0, y0 = round(float(x.min(axis=1).max()), 12), round(float(y.min(axis=1).max()), 12)
    x1, y1 = round(float(x.max(axis=1).min()), 12), round(float(y.max(axis=1).min()), 12)
    if not (x0 < x1 and y0 < y1):
        return None
    srid = header_info(a[0].as_py())[3]
    return to_ewkb(region_to_geometry(RectRegion([(x0, y0, x1, y1)]), srid))


def _difference_all(a: pa.Array, grid_size: float | None = None) -> bytes:
    return to_ewkb(setops.difference_all(_decode(a), grid_size))


def _symmetric_difference_all(a: pa.Array, grid_size: float | None = None) -> bytes:
    return to_ewkb(setops.symmetric_difference_all(_decode(a), grid_size))


def _coverage_union_all(a: pa.Array) -> bytes:
    return to_ewkb(setops.union_all(_decode(a)))


def _collect(a: pa.Array, into: int | None = None) -> bytes:
    return to_ewkb(setops.collect(_non_null(a), into=into))


def _polygonize_agg(a: pa.Array) -> bytes:
    import numpy as np

    from polars_st_spark.geo.algos import line_merge
    from polars_st_spark.geo.types import Geometry, GeometryType, empty_collection

    gs = _non_null(a)
    if not gs:
        return to_ewkb(empty_collection())
    merged = setops.collect(gs)
    lm = line_merge(merged)
    chains = [lm.coords] if lm.type_id == GeometryType.LineString else [
        g.coords for g in (lm.geoms or [])
    ]
    polys = [
        Geometry(GeometryType.Polygon, srid=merged.srid, rings=[c.copy()])
        for c in chains
        if c is not None and len(c) >= 4 and np.allclose(c[0], c[-1])
    ]
    return to_ewkb(Geometry(GeometryType.GeometryCollection, srid=merged.srid, geoms=polys))


def _voronoi_polygons_agg(a: pa.Array, tolerance: float = 0.0) -> bytes:
    from polars_st_spark.geo.triangulate import voronoi_polygons
    from polars_st_spark.geo.types import empty_collection

    gs = _non_null(a)
    if not gs:
        return to_ewkb(empty_collection())
    return to_ewkb(voronoi_polygons(setops.collect(gs), tolerance))


def _delaunay_triangles_agg(a: pa.Array, tolerance: float = 0.0,
                            only_edges: bool = False) -> bytes:
    from polars_st_spark.geo.triangulate import delaunay_triangles
    from polars_st_spark.geo.types import empty_collection

    gs = _non_null(a)
    if not gs:
        return to_ewkb(empty_collection())
    return to_ewkb(delaunay_triangles(setops.collect(gs), tolerance, only_edges))


def st_union_all(col, grid_size: float | None = None) -> Column:
    """Aggregate union; empty/all-null → GEOMETRYCOLLECTION EMPTY
    (reference: expressions.rs:985-999). Uniform axis-rect groups take a
    vectorized slab-union path with no per-row decode."""
    return geom_agg(union_array, grid_size=grid_size)(col_or_lit(col))


def st_intersection_all(col, grid_size: float | None = None) -> Column:
    """(reference: expressions.rs:901-914)"""
    return geom_agg(_intersection_all, grid_size=grid_size)(col_or_lit(col))


def st_difference_all(col, grid_size: float | None = None) -> Column:
    """Order-dependent left fold (reference: expressions.rs:873-886).

    WARNING: Spark shuffles are unordered — group value order is whatever the
    shuffle delivers. For deterministic results use
    :func:`polars_st_spark.operators.grouped.difference_all_ordered` with an
    explicit sort key (SURVEY §7 hard part 4)."""
    return geom_agg(_difference_all, grid_size=grid_size)(col_or_lit(col))


def st_symmetric_difference_all(col, grid_size: float | None = None) -> Column:
    """Order-dependent left fold (reference: expressions.rs:932-948); same
    ordering caveat as st_difference_all."""
    return geom_agg(_symmetric_difference_all, grid_size=grid_size)(col_or_lit(col))


def st_polygonize_agg(col) -> Column:
    """Polygonize the group's combined linework (reference: functions.rs:1221-1226)."""
    return geom_agg(_polygonize_agg)(col_or_lit(col))


def st_voronoi_polygons_agg(col, tolerance: float = 0.0) -> Column:
    """Voronoi diagram of all the group's vertices (reference: functions.rs:1791-1802)."""
    return geom_agg(_voronoi_polygons_agg, tolerance=tolerance)(col_or_lit(col))


def st_delaunay_triangles_agg(col, tolerance: float = 0.0, only_edges: bool = False) -> Column:
    """Triangulation of all the group's vertices (reference: functions.rs:1364-1373)."""
    return geom_agg(_delaunay_triangles_agg, tolerance=tolerance,
                    only_edges=only_edges)(col_or_lit(col))


def st_coverage_union_all(col) -> Column:
    """Union of a non-overlapping coverage (reference: functions.rs:1213-1219)."""
    return geom_agg(_coverage_union_all)(col_or_lit(col))


def st_collect(col, into: int | None = None) -> Column:
    """Gather group geometries into Multi*/GeometryCollection with supertype
    inference (reference: functions.rs:1238-1276)."""
    return geom_agg(_collect, into=into)(col_or_lit(col))


def st_total_bounds(bounds_col) -> list[Column]:
    """Aggregate [min xmin, min ymin, max xmax, max ymax] over an
    ``st_bounds`` array column — pure Spark SQL, no UDF for the agg step
    (reference: expressions.rs:512-527; SURVEY §2.7 total_bounds).

    Usage::

        df.select(st_bounds("geom").alias("b")) \\
          .agg(*st_total_bounds("b"))  # -> xmin, ymin, xmax, ymax columns
    """
    b = col_or_lit(bounds_col)

    def skip_nan(c: Column) -> Column:
        return F.when(F.isnan(c), F.lit(None)).otherwise(c)

    return [
        F.min(skip_nan(b[0])).alias("xmin"),
        F.min(skip_nan(b[1])).alias("ymin"),
        F.max(skip_nan(b[2])).alias("xmax"),
        F.max(skip_nan(b[3])).alias("ymax"),
    ]
